"""Seeded inputs, op streams and expected answers for the benchmark.

Everything here is a function of the seed — inputs of `seed % TABLE_VARIANTS`
(events) or `seed % CORPUS_VARIANTS` (documents), op streams of the seed
itself — computed with numpy/pyarrow only: the expected `TsAggClient`
answers share no code with graft.
"""
import hashlib
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = 1704067200000  # 2024-01-01T00:00:00Z, epoch ms
HOUR = 3600_000
DAY = 86400_000
MONTH_DAYS = 30
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
AGGS = ["max", "min", "sum", "count", "avg", "summary"]
FORMS = ["typed", "keyed", "cells"]
INTERVALS = [60, 900, 3600, 28800]
RANGE_DAYS = [1, 3, 7]

# tsagg_client's table matches the sf0.1 `events` table (100k cells over
# 1500 series); each ingest pushes 100k binary cells
CELLS = 100_000
SERIES = 1_500
INGEST_CELLS = 100_000

CURATION = ["text_repetition", "text_fingerprint", "text_quality", "text_langid",
            "pii_scrub", "filter_repetition", "curate_url_normalize", "dedup_exact",
            "dedup_minhash"]
CORPUS_VARIANTS = 4
# tsagg tables are built per seed % TABLE_VARIANTS, so the fixtures the
# library builds from them in prep are reused across runs
TABLE_VARIANTS = 2
# 700 documents: large enough that executor task CPU is most of a curation
# call (per-row text functions), small enough for five passes in a run
CORPUS_DOCS = 700


# ---- events ---------------------------------------------------------------

def events(seed, cells, series):
    """Sorted event stream: (ts_ms, user_id, event_type index, value cents)."""
    rng = np.random.default_rng([seed, cells, series])
    ts = np.sort(T0 + rng.integers(0, MONTH_DAYS * DAY, cells, dtype=np.int64))
    user = rng.integers(0, series, cells, dtype=np.int64)
    etype = rng.integers(0, len(EVENT_TYPES), cells, dtype=np.int32)
    cents = np.minimum(rng.lognormal(7.0, 1.2, cells), 56020).astype(np.int64)
    return ts, user, etype, cents


def write_events(path, ev):
    ts, user, etype, cents = ev
    n = len(ts)
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts * 1_000_000, type=pa.timestamp("ns")),
        "user_id": pa.array(user),
        "event_type": pa.DictionaryArray.from_arrays(pa.array(etype), pa.array(EVENT_TYPES)),
        "value": pa.array(cents / 100.0),
    })
    # one row group per day of the month, so a ranged scan can prune
    pq.write_table(table, path, version="2.6", row_group_size=max(1, n // MONTH_DAYS))


def _be(values, dtype, width):
    return np.frombuffer(values.astype(dtype).tobytes(), dtype=np.uint8).reshape(-1, width)


def _binary(mat):
    n, w = mat.shape
    fixed = pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(w), n, [None, pa.py_buffer(np.ascontiguousarray(mat).tobytes())])
    return fixed.cast(pa.binary())


def write_cell_batch(path, seed, cells, series):
    """A batch of binary cells in the region writer's column order (key,
    qual, value, value_long, value_double, event_type)."""
    ts, user, etype, cents = events(seed, cells, series)
    sec = ts // 1000
    hour = sec // 3600 * 3600
    table = pa.table({
        "key": _binary(np.hstack([_be(user, ">i8", 8), _be(hour, ">i4", 4)])),
        "qual": _binary(_be(sec - hour, ">i4", 4)),
        "value": _binary(_be(cents, ">i8", 8)),
        "value_long": pa.array(cents),
        "value_double": pa.array(cents / 100.0),
        "event_type": pa.array(np.array(EVENT_TYPES)[etype]),
    })
    pq.write_table(table, path)


# ---- op streams -------------------------------------------------------------

def tsagg_rounds(seed, rounds):
    """Rounds of 12 `TsAggClient` calls plus one ingest. Every round has the
    same cost profile — each aggregate twice, each source form four times,
    each (range, interval) setting of RANGES x INTERVALS once, six calls in
    each time mode — and the seed decides how these pair up, where each
    range starts (on an hour) and the order. A read placed after its
    round's ingest is marked `fresh`: a `cells` read then sees the ingested
    region beside the base regions."""
    rng = np.random.default_rng([seed, 7])
    settings = [(d, iv) for d in RANGE_DAYS for iv in INTERVALS]
    out = []
    for r in range(rounds):
        forms = rng.permutation(FORMS * 4)
        aggs = rng.permutation(AGGS * 2)
        modes = rng.permutation(["key", "cell"] * 6)
        calls = []
        for (days, iv), form, agg, mode in zip(settings, forms, aggs, modes):
            t0 = T0 + int(rng.integers(0, (MONTH_DAYS - days) * 24 + 1)) * HOUR
            calls.append(dict(round=r, kind="read", form=str(form), agg=str(agg),
                              mode=str(mode), t0=t0, t1=t0 + days * DAY, interval=iv))
        calls.append(dict(round=r, kind="ingest"))
        calls = [calls[i] for i in rng.permutation(len(calls))]
        seen = False
        for c in calls:
            seen = seen or c["kind"] == "ingest"
            if c["kind"] == "read":
                c["fresh"] = seen
        out += calls
    return _number(out)


def _number(ops):
    for i, op in enumerate(ops):
        op["id"] = i
    return ops


def registry_rounds(queries, seed, rounds):
    """Passes over `queries`, each in a seeded order."""
    rng = np.random.default_rng([seed, 11])
    out = []
    for r in range(rounds):
        out += [dict(round=r, kind="query", name=queries[i]) for i in rng.permutation(len(queries))]
    return _number(out)


def op_line(op):
    if op["kind"] == "read":
        f = [op["form"], op["agg"], op["mode"], op["t0"], op["t1"], op["interval"]]
    elif op["kind"] == "ingest":
        f = [op["batch"]]
    else:
        f = [op["name"]]
    return "\t".join(str(x) for x in [op["id"], op["round"], op["kind"]] + f)


# ---- expected answers ---------------------------------------------------------

def _bits(x):
    return struct.unpack(">q", struct.pack(">d", float(x)))[0]


def scan_end(op):
    """Exclusive end of the aggregated range: `[t0, t1)` in cell-timestamp
    mode; key-embedded mode adds the bucket that starts at t1."""
    iv = op["interval"] * 1000
    if op["mode"] == "cell":
        return op["t1"]
    d = op["t1"] - op["t0"]
    return op["t0"] + (d - d % iv) + iv


def canonical_digest(rows):
    """MD5 of a result's canonical text: one line per bucket in ascending
    bucket order, fields separated by one space, integers in decimal and
    doubles as the decimal of their IEEE-754 bits, so equal texts mean
    bit-equal answers. The benchmark's JVM side writes the same text."""
    lines = []
    for row in sorted(rows, key=lambda r: r[0]):
        lines.append(" ".join(str(_bits(x)) if isinstance(x, float) else str(int(x))
                              for x in row) + "\n")
    return hashlib.md5("".join(lines).encode()).hexdigest()


def merge_events(a, b):
    """Two event streams as one, sorted by time (what a `cells` read sees
    after its round's ingest: the base regions and the ingested ones)."""
    cat = [np.concatenate([x, y]) for x, y in zip(a, b)]
    order = np.argsort(cat[0], kind="stable")
    return tuple(c[order] for c in cat)


def expected_read(ev, op):
    """(digest, in-range cells) of one call, by plain numpy aggregation."""
    ts, _, _, cents = ev
    lo = np.searchsorted(ts, op["t0"], "left")
    hi = np.searchsorted(ts, scan_end(op), "left")
    seg, v = ts[lo:hi], cents[lo:hi]
    iv = op["interval"] * 1000
    buckets = op["t0"] + (seg - op["t0"]) // iv * iv
    keys, starts = np.unique(buckets, return_index=True)
    rows = []
    if len(keys):
        mx = np.maximum.reduceat(v, starts)
        mn = np.minimum.reduceat(v, starts)
        sm = np.add.reduceat(v, starts)
        ct = np.diff(np.append(starts, len(v)))
        agg = op["agg"]
        for i, k in enumerate(keys.tolist()):
            s, c = int(sm[i]), int(ct[i])
            if agg == "summary":
                rows.append((k, int(mx[i]), int(mn[i]), s, c, s / c))
            else:
                rows.append((k, {"max": int(mx[i]), "min": int(mn[i]), "sum": s, "count": c,
                                 "avg": s / c}[agg]))
    return canonical_digest(rows), int(hi - lo)


# ---- documents corpus -----------------------------------------------------------
#
# Shaped on the repository's `documents` tables (sf0.01: 500 rows, sf0.1: 5000
# rows), measured on sf0.1: 10-99 words per document, uniform; one
# vocabulary of 30 ASCII words, uniform, of which "the" and "a" are the only
# stopwords (2/30 of the tokens); lang labels en 41%, zh 15%, es 15%,
# fr 15%, de 14%; source `src{doc_id % 20}`; n_chars = len(text); 5% of the
# documents (250) are another document's text plus " dup", which also makes
# 0.16% exact duplicates. Two departures, so that the per-row text functions
# see inputs that take every branch: in the repository's tables the label is
# independent of the text and the text has no punctuation, so language ID
# answers "en" for every document and the punctuation count is always 0.
# Here the stopword slots (the same 2/30 of the tokens) hold function words
# of the document's labelled language (CJK words for zh), and the words run
# in sentences of 6-18 words, each ending with "." or, one in eight, "?" or
# "!", with a comma inside one sentence in three.

WORDS = ("key agg row scan slow fast table value part hash merge batch spark line "
         "sort window order data column join small customer query big group stream "
         "filter vector").split()
FUNCTION_WORDS = {
    "en": ["the", "a"],
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "est", "dans"],
    "es": ["el", "los", "las", "de", "y", "que", "en", "un", "una", "por"],
    "de": ["der", "die", "das", "und", "von", "zu", "ein", "eine", "ist", "mit"],
    "zh": ["\u7684", "\u6570\u636e", "\u67e5\u8be2", "\u8868", "\u5206\u7ec4", "\u662f"],
}
# per-mille lang shares of the repository's sf0.1 table
LANG_SHARES = [("en", 412), ("zh", 151), ("es", 149), ("fr", 148), ("de", 140)]
NEAR_DUP_PCT = 5


class SplitMix:
    """splitmix64: a fixed generator, so a corpus is byte-identical on any
    Python/numpy version (its digests are committed)."""

    def __init__(self, seed):
        self.s = seed & 0xFFFFFFFFFFFFFFFF

    def next(self):
        self.s = (self.s + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = self.s
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return z ^ (z >> 31)

    def below(self, n):
        return self.next() % n


def _lang(g):
    r = g.below(1000)
    for lang, share in LANG_SHARES:
        if r < share:
            return lang
        r -= share


def _text(g, lang):
    n_words = 10 + g.below(90)
    fw = FUNCTION_WORDS[lang]
    words = [fw[g.below(len(fw))] if g.below(15) == 0 else WORDS[g.below(len(WORDS))]
             for _ in range(n_words)]
    out, left = [], n_words
    while left:
        k = min(left, 6 + g.below(13))
        sent = words[n_words - left:n_words - left + k]
        end = "?!"[g.below(2)] if g.below(8) == 0 else "."
        if g.below(3) == 0 and k > 2:
            sent[k // 2] += ","
        sent[-1] += end
        out += sent
        left -= k
    return " ".join(out)


def write_corpus(path, variant, docs=CORPUS_DOCS):
    """`documents(doc_id, text, lang, source, n_chars)` shaped as described
    above, near duplicates included, so the dedup operators have work."""
    g = SplitMix(0xC0FFEE + variant)
    langs = [_lang(g) for _ in range(docs)]
    texts = [_text(g, lang) for lang in langs]
    base = list(texts)
    for i in range(docs):
        if g.below(100) < NEAR_DUP_PCT:
            texts[i] = base[g.below(docs)] + " dup"
    table = pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
