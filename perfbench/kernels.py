"""Python references for the exprs kernel reductions of the stateless
workload (Workloads.kernels in the driver).

Each function takes the corpus texts and the constants the Scala side
passes (the case's ``arg``) and returns the value the Spark reduction must
return, computed from the kernel's documented semantics without graft:

* ``simhash64``, ``rolling_min_hash``: ``bit_xor`` of the per-document value;
* the others: the sum over documents of the CRC-32 of the value rendered as
  Spark's ``CAST(... AS STRING)`` renders it (arrays as ``[a, b, c]``).
"""
import hashlib
import unicodedata
import zlib

import numpy as np

P31 = 2**31 - 1


def _tokens(t):
    """ws_tokens: single-space split, empties dropped."""
    return [w for w in t.split(" ") if w]


def _shingles(t, k):
    """Distinct k-token shingles in first-occurrence order."""
    toks = _tokens(t)
    return list(dict.fromkeys(" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)))


def _crc(s):
    return zlib.crc32(s.encode("utf-8"))


def _array(xs):
    return "[" + ", ".join(str(x) for x in xs) + "]"


def _signed64(u):
    return u - (1 << 64) if u >= 1 << 63 else u


def simhash64(texts, _):
    """Bit b (from the top) is set when more than half the tokens have bit
    b of their md5's first 64 bits (big-endian) set."""
    acc = 0
    for t in texts:
        toks = _tokens(t)
        heads = np.frombuffer(b"".join(hashlib.md5(w.encode()).digest()[:8] for w in toks),
                              np.uint8)
        ones = np.unpackbits(heads.reshape(-1, 8), axis=1).sum(axis=0)
        acc ^= sum(1 << (63 - b) for b in range(64) if 2 * int(ones[b]) > len(toks))
    return _signed64(acc)


def minhash_sig(texts, arg):
    """Per hash (a, b): min over the 3-shingles of (a * h + b) mod p, h the
    first 32 md5 bits mod p; no signature for a document without shingles."""
    a, b = ([int(x) for x in part.split(",")] for part in arg.split("|"))
    total = 0
    for t in texts:
        hs = [int.from_bytes(hashlib.md5(s.encode()).digest()[:4], "big") % P31
              for s in _shingles(t, 3)]
        if hs:
            total += _crc(_array(min((ai * h + bi) % P31 for h in hs) for ai, bi in zip(a, b)))
    return total


def rolling_min_hash(texts, arg):
    """Min over the k-char windows of the polynomial hash sum c_i * B^(k-1-i)
    mod p; no value for a text shorter than k."""
    k, base, p = (int(x) for x in arg.split(","))
    acc = 0
    for t in texts:
        if len(t) < k:
            continue
        h = 0
        for c in t[:k]:
            h = (h * base + ord(c)) % p
        low, top = h, pow(base, k - 1, p)
        for i in range(k, len(t)):
            h = ((h - ord(t[i - k]) * top) * base + ord(t[i])) % p
            low = min(low, h)
        acc ^= low
    return acc


def shingles(texts, _):
    return sum(_crc(_array(_shingles(t, 3))) for t in texts)


def ws_tokens(texts, _):
    return sum(_crc(_array(_tokens(t))) for t in texts)


def bpe_stats(texts, spec):
    """[words, tokens, sum of token ids] per text. Per word, from its
    characters, merge the leftmost occurrence of the lowest-ranked adjacent
    pair until none is ranked; ids: printable ASCII c -> c - 33, merge i's
    output -> 94 + i, anything else -> -1."""
    merges = [m.split(" ", 1) for m in spec.split(";") if m]
    rank = {(a, b): i for i, (a, b) in enumerate(merges)}
    ids = {a + b: 94 + i for i, (a, b) in enumerate(merges)}
    memo = {}

    def encode(w):
        syms = list(w)
        while len(syms) > 1:
            ranked = [(rank[p], j) for j, p in enumerate(zip(syms, syms[1:])) if p in rank]
            if not ranked:
                break
            j = min(ranked)[1]
            syms[j:j + 2] = [syms[j] + syms[j + 1]]
        return len(syms), sum(
            (ord(s) - 33 if 33 <= ord(s) <= 126 else -1) if len(s) == 1 else ids.get(s, -1)
            for s in syms)

    total = 0
    for t in texts:
        words = _tokens(t)
        for w in words:
            if w not in memo:
                memo[w] = encode(w)
        enc = [memo[w] for w in words]
        total += _crc(_array([len(words), sum(n for n, _ in enc), sum(s for _, s in enc)]))
    return total


def lexicon_counts(texts, spec):
    """[hits in each lexicon..., tokens, distinct tokens] per text."""
    lexicons = [{w for w in lex.split(",") if w} for lex in spec.split("|")]
    total = 0
    for t in texts:
        toks = _tokens(t)
        counts = [sum(w in lex for w in toks) for lex in lexicons]
        total += _crc(_array(counts + [len(toks), len(set(toks))]))
    return total


def nfc_normalize(texts, _):
    return sum(_crc(unicodedata.normalize("NFC", t)) for t in texts)


def html_entities(texts, _):
    # only '&' starts an entity reference; this reference covers the
    # generated corpus, which has none, and refuses any other input
    if any("&" in t for t in texts):
        raise ValueError("the html_entities reference covers only text without '&'")
    return sum(_crc(t) for t in texts)


REFERENCES = {f.__name__: f for f in (
    simhash64, minhash_sig, rolling_min_hash, shingles, ws_tokens, bpe_stats,
    lexicon_counts, nfc_normalize, html_entities)}
