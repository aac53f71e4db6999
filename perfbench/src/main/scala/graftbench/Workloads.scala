package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.exprs.{MinHashSig, RollingMinHash}
import graft.ops.{Dedup, IncrementalDedup, TextAnalysis}
import graft.streaming.DocumentsStream

/** A collected result: what the correctness gate compares. */
final case class Result(schema: StructType, rows: Array[Row])

/** One operation the closed-loop client issues. `kind` is the operation
  * type the metrics group by; `check` names the correctness case its
  * result must match (None for state mutations, whose effect the next
  * serve checks). `body` gets the span recorder and returns the result.
  */
final case class Op(name: String, kind: String, check: Option[String],
    body: Tracer => Option[Result])

/** How the gate checks one case: the DuckDB oracle (a key of
  * SparkEntry.oracleSql) over the input tables, with `documents` less the
  * tombstoned ids when `survivors` is set; or, for an oracle named
  * `kernel.<fn>`, the Python reference of that kernel's reduction
  * (perfbench/kernels.py) over the corpus text, given `arg`.
  */
final case class Check(oracle: String, survivors: Boolean = false, arg: String = "")

/** A workload: the operation sequence of pass `p` and the per-pass state
  * to delete after a pass.
  */
trait Workload {
  def pass(p: Int): Seq[Op]
  def afterPass(): Unit = ()
  /** Bytes of input documents one pass ingests (write amplification base). */
  def ingestBytes: Long = 0L
  /** Bytes of the input that survives the pass's deletes (space amplification base). */
  def survivorBytes: Long = 0L
  /** State dirs of the current pass. */
  def stateDirs: Seq[String] = Nil
  def liveGenerations(spark: SparkSession): Int = 0
}

object Workloads {

  def collect(df: DataFrame, t: Tracer): Option[Result] =
    Some(Result(df.schema, t("spark.exec")(df.collect())))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally w.close()
    }

  /** The state chassis, both ways into one IncrementalDedup state dir per
    * pass: batch 0 through the public `merge`, batch 1 through the q54
    * AvailableNow runner as `files` small micro-batches (one generation
    * each). Then delete a seeded id set, serve, compact and serve again.
    */
  final class Chassis(spark: SparkSession, data: String, work: String, files: Int,
      override val ingestBytes: Long, override val survivorBytes: Long) extends Workload {
    private val batch0 = spark.read.parquet(s"$data/batch_0.parquet")
    private val deleted = spark.read.parquet(s"$data/deleted.parquet")
    private val root = Paths.get(work, "state")
    private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    private var dir = ""

    override def stateDirs: Seq[String] = Seq(dir)

    def pass(p: Int): Seq[Op] = {
      dir = root.resolve(s"p$p-dedup").toString
      val key = Some("chassis.dedup")
      def serve(t: Tracer) =
        t("genstate.dedup.serve")(collect(IncrementalDedup.clusters(spark, dir), t))
      Seq(
        Op("dedup.merge", "merge", None, t => {
          t("genstate.dedup.merge")(IncrementalDedup.merge(spark, dir, batch0)); None }),
        Op("dedup.drain", "drain", None, t => {
          t("streaming.q54_drain")(DocumentsStream.runIncrementalDedupAvailableNow(
            spark, s"$data/stream", Some(dir), files)); None }),
        Op("dedup.delete", "delete", None, t => {
          t("genstate.dedup.delete")(IncrementalDedup.delete(spark, dir, deleted)); None }),
        Op("dedup.serve", "serve", key, serve),
        Op("dedup.compact", "compact", None, t => {
          t("genstate.dedup.compact")(IncrementalDedup.compact(spark, dir)); None }),
        Op("dedup.serve2", "serve", key, serve))
    }

    override def liveGenerations(s: SparkSession): Int =
      IncrementalDedup.completeVersions(s, dir).size

    // the runner stages its source files and checkpoint in scratch dirs
    // that graft only removes at JVM exit; drop them with the state
    override def afterPass(): Unit = {
      deleteTree(root)
      val w = Files.list(tmp)
      try w.filter(_.getFileName.toString.startsWith("graft_q54_")).forEach(d => deleteTree(d))
      finally w.close()
    }
  }

  /** The relational, SQL, as-of, top-k and OOH-pipeline queries. */
  val olapQueries: Seq[String] = Seq(
    "q1_pricing_summary", "q6_topk_orders", "q7_window_rank", "q15_asof_join",
    "q31_topk_per_key", "q44_exists_sql", "ooh_occupations", "ooh_report")

  /** The curation operators (name, oracle, call). */
  val operators: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("exact_dedup", "d1_exact_dedup", Dedup.exactDedup _),
    ("minhash_pairs", "d3_minhash_lsh", (s, d) => Dedup.minhashLshPairs(s, d)),
    ("simhash_pairs", "d5_simhash_pairs", (s, d) => Dedup.simhashPairs(s, d)),
    ("dup_clusters", "d7_dup_clusters", (s, d) => Dedup.dupClusters(s, d)),
    ("quality_scores", "t3_quality_scores", (s, d) => TextAnalysis.qualityScores(s, d)),
    ("lang_id", "t2_lang_id", TextAnalysis.langId _),
    ("token_freq", "t5_token_freq", (s, d) => TextAnalysis.tokenFreq(s, d)),
    ("exact_substring", "d13_exact_substring", (s, d) => Dedup.exactSubstringPairs(s, d)),
    ("bpe_tokens", "t12_bpe_tokens", TextAnalysis.bpeVocabTokens _))

  private val bpeSpec = graft.exprs.BpeStats.spec
  private val lexicons = "the,a,data|row,scan,hash,merge"
  private val minhashConstants =
    s"${MinHashSig.A.mkString(",")}|${MinHashSig.B.mkString(",")}"
  private val rollingConstants = s"${RollingMinHash.K},${RollingMinHash.B},${RollingMinHash.P}"

  /** A reduction that depends on every value `e` returns: the sum of the
    * CRC-32s of each row's value rendered as a string.
    */
  private def digest(e: String) = s"sum(crc32(CAST(CAST($e AS STRING) AS BINARY))) AS v"

  /** The exprs kernels (name, reduction, the constants the Python
    * reference needs), each timed alone over the corpus text.
    */
  val kernels: Seq[(String, String, String)] = Seq(
    ("simhash64", "bit_xor(simhash64(text)) AS v", ""),
    ("minhash_sig", digest("minhash_sig(sh)"), minhashConstants),
    ("rolling_min_hash", "bit_xor(rolling_min_hash(text)) AS v", rollingConstants),
    ("shingles", digest("shingles(text, 3)"), ""),
    ("ws_tokens", digest("ws_tokens(text)"), ""),
    ("bpe_stats", digest(s"bpe_stats(text, '${bpeSpec.replace("'", "''")}')"), bpeSpec),
    ("lexicon_counts", digest(s"lexicon_counts(text, '$lexicons')"), lexicons),
    ("nfc_normalize", digest("nfc_normalize(text)"), ""),
    ("html_entities", digest("html_entities(text)"), ""))

  /** The correctness cases of a workload, known before Spark starts so
    * that the oracles can be computed while it does.
    */
  def checks(workload: String): Map[String, Check] = workload match {
    case "chassis" => Map("chassis.dedup" -> Check("d7_dup_clusters", survivors = true))
    case "stateless" =>
      olapQueries.map(q => q -> Check(q)).toMap ++
        operators.map { case (n, o, _) => s"curation.$n" -> Check(o) } ++
        kernels.map { case (n, _, arg) => s"exprs.$n" -> Check(s"kernel.$n", arg = arg) }
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Every call that leaves no state behind, over one data dir: the olap
    * queries over the harness tables, then the curation operators over the
    * corpus (`documents`), then each exprs kernel alone over the corpus
    * text with a cheap reduction. The order is fixed: in the first pass of
    * a JVM, first-use costs shared between calls land on whichever runs
    * first, so a seeded order would move them from run to run.
    */
  final class Stateless(spark: SparkSession, data: String, work: String) extends Workload {
    // minhash_sig signs a shingle array; staging the shingles once keeps
    // the kernel's own time separate from the shingler's
    private val docs = spark.read.parquet(s"$data/documents.parquet")
    private val shPath = s"$work/shingles.parquet"
    docs.selectExpr("shingles(text, 3) AS sh").write.mode("overwrite").parquet(shPath)
    private val sh = spark.read.parquet(shPath)

    def pass(p: Int): Seq[Op] =
      olapQueries.map { q =>
        val layer = if (q.startsWith("ooh_")) "pipeline.ooh" else "operators.query"
        Op(q, "query", Some(q), t => t(layer) {
          val df = t("operators.build")(SparkEntry.queries(q)(spark, data))
          t("plans.plan")(df.queryExecution.executedPlan)
          collect(df, t)
        })
      } ++ operators.map { case (n, _, f) =>
        Op(n, "operator", Some(s"curation.$n"), t => t(s"ops.$n") {
          collect(f(spark, data), t)
        })
      } ++ kernels.map { case (n, e, _) =>
        Op(n, "kernel", Some(s"exprs.$n"), t => t(s"exprs.$n") {
          collect((if (n == "minhash_sig") sh else docs).selectExpr(e), t)
        })
      }
  }
}
