"""Corpus-hygiene registry queries (round-2 widening, batch 5):
benchmark decontamination, corpus-wide duplicated-n-gram fraction,
sequence packing, and incremental snapshot-delta ingestion — the
between-crawl operations of a training-data pipeline. Merged into
``QUERIES`` by queries.py; every entry carries an exact DuckDB oracle.

Split conventions (both engines, deterministic):
- eval/benchmark set for decontamination: ``doc_id % 17 = 0``
- already-ingested snapshot for incremental ingest: sources src0..src4
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bolson_spark.functions.corpus import (
    decontaminate,
    dup_ngram_fraction,
    incremental_ingest,
    pack_sequences,
)
from bolson_spark.functions.text import where_once
from bolson_spark.queries import QuerySpec, _t

# DuckDB fragment: word 8-grams of a single-space-tokenized text column
# (mirrors functions/corpus.py::word_ngrams with n=8 including the
# short-document empty-array guard via greatest(...,0)).
_G8 = (
    "list_transform(range(1, greatest(len(words) - 7, 0) + 1), "
    "i -> array_to_string(words[i:i+7], ' '))"
)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    eval_docs = docs.filter(F.col("doc_id") % 17 == 0)
    return decontaminate(corpus, eval_docs, n=8)


O_DECONTAMINATE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
g AS (
  SELECT doc_id, UNNEST(list_distinct({_G8})) AS gram FROM w
),
eg AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0
),
hits AS (
  SELECT doc_id, COUNT(*) AS n_contaminated
  FROM g JOIN eg USING (gram)
  WHERE doc_id % 17 <> 0
  GROUP BY doc_id
),
per AS (
  SELECT doc_id, CAST(len(list_distinct({_G8})) AS BIGINT) AS n_grams
  FROM w WHERE doc_id % 17 <> 0
)
SELECT p.doc_id, p.n_grams,
       CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       COALESCE(h.n_contaminated, 0) > 0 AS contaminated
FROM per p LEFT JOIN hits h USING (doc_id)
"""


def q_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_ngram_fraction(_t(spark, sf_dir, "documents"), n=8)


O_DUP_NGRAM_FRACTION = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
g AS (
  SELECT doc_id, UNNEST(list_distinct({_G8})) AS gram FROM w
),
gc AS (
  SELECT gram, COUNT(*) AS n_docs FROM g GROUP BY gram
),
per AS (
  SELECT doc_id, COUNT(*) AS n_grams,
         SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM g JOIN gc USING (gram) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(per.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(per.n_dup, 0) AS BIGINT) AS n_dup_grams,
       CASE WHEN COALESCE(per.n_grams, 0) = 0 THEN 0.0
            ELSE ROUND(CAST(per.n_dup AS DOUBLE) / per.n_grams, 6)
       END AS dup_frac
FROM documents d LEFT JOIN per USING (doc_id)
"""


def q_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup signal (Lee et al. 2022): per document,
    the token fraction covered by maximal repeated spans — overlapping
    15-token windows duplicated anywhere in the corpus, merged by the
    gaps-and-islands pass. See functions/corpus.py::dup_span_coverage
    for the distributed re-expression of the paper's suffix-array
    method; all-integer arithmetic, bit-exact oracle."""
    from bolson_spark.functions.corpus import dup_span_coverage

    return dup_span_coverage(_t(spark, sf_dir, "documents"), length=15)


_DSC_L = 15
O_DUP_SPAN_COVERAGE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
g AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS start,
         array_to_string(words[i:i+{_DSC_L - 1}], ' ') AS gram
  FROM w, UNNEST(range(1, greatest(len(words) - {_DSC_L - 1}, 0) + 1))
       AS t(i)
),
gc AS (SELECT gram, COUNT(*) AS c FROM g GROUP BY gram),
dup AS (SELECT doc_id, start FROM g JOIN gc USING (gram) WHERE c >= 2),
isl AS (
  SELECT doc_id, start,
         CASE WHEN lag(start) OVER (PARTITION BY doc_id ORDER BY start)
                   IS NULL
                OR start > lag(start) OVER (
                     PARTITION BY doc_id ORDER BY start) + {_DSC_L - 1}
              THEN 1 ELSE 0 END AS brk
  FROM dup
),
isl2 AS (
  SELECT doc_id, start,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY start
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island, MAX(start) - MIN(start) + {_DSC_L} AS covered,
         COUNT(*) AS nw
  FROM isl2 GROUP BY doc_id, island
),
per AS (
  SELECT doc_id, SUM(covered) AS n_covered, SUM(nw) AS ndw
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(len(string_split(d.text, ' ')), 0) AS BIGINT)
         AS n_tokens,
       CAST(COALESCE(per.ndw, 0) AS BIGINT) AS n_dup_windows,
       CAST(COALESCE(per.n_covered, 0) AS BIGINT) AS n_covered,
       CASE WHEN COALESCE(len(string_split(d.text, ' ')), 0) = 0 THEN 0.0
            ELSE ROUND(CAST(COALESCE(per.n_covered, 0) AS DOUBLE)
                       / len(string_split(d.text, ' ')), 6)
       END AS covered_frac
FROM documents d LEFT JOIN per USING (doc_id)
"""


def q_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable half of the substring dedup (Lee et al. delete
    all-but-one occurrence): non-canonical maximal repeated spans are
    deleted and the cleaned text digested, so the REMOVAL itself sits
    under the value-hash gate. See functions/corpus.py::
    strip_dup_spans for the keep-one-guarantee canonical rule."""
    from bolson_spark.functions.corpus import strip_dup_spans

    return strip_dup_spans(_t(spark, sf_dir, "documents"), length=15)


O_STRIP_DUP_SPANS = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
g AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS start,
         array_to_string(words[i:i+{_DSC_L - 1}], ' ') AS gram
  FROM w, UNNEST(range(1, greatest(len(words) - {_DSC_L - 1}, 0) + 1))
       AS t(i)
),
gc AS (SELECT gram, COUNT(*) AS c FROM g GROUP BY gram),
dup AS (
  SELECT doc_id, start, gram FROM g JOIN gc USING (gram) WHERE c >= 2
),
isl AS (
  SELECT doc_id, start, gram,
         CASE WHEN lag(start) OVER (PARTITION BY doc_id ORDER BY start)
                   IS NULL
                OR start > lag(start) OVER (
                     PARTITION BY doc_id ORDER BY start) + {_DSC_L - 1}
              THEN 1 ELSE 0 END AS brk
  FROM dup
),
isl2 AS (
  SELECT doc_id, start, gram,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY start
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM isl
),
canon AS (
  SELECT gram, MIN(ROW(doc_id, start)) AS canon
  FROM dup GROUP BY gram
),
m AS (
  SELECT i.doc_id, i.start, i.island,
         CASE WHEN ROW(i.doc_id, i.start) = c.canon
              THEN 1 ELSE 0 END AS isc
  FROM isl2 i JOIN canon c USING (gram)
),
spans AS (
  SELECT doc_id, island, MIN(start) AS s0,
         MAX(start) + {_DSC_L - 1} AS e0, MAX(isc) AS kept
  FROM m GROUP BY doc_id, island
),
del AS (SELECT doc_id, s0, e0 FROM spans WHERE kept = 0),
iv AS (
  SELECT doc_id, list({{'s0': s0, 'e0': e0}}) AS iv
  FROM del GROUP BY doc_id
),
fin AS (
  SELECT d.doc_id, string_split(d.text, ' ') AS words, iv.iv AS iv
  FROM documents d LEFT JOIN iv ON d.doc_id = iv.doc_id
),
cl AS (
  SELECT doc_id,
         COALESCE(len(words), 0) AS n_tokens,
         COALESCE(len(iv), 0) AS n_spans_deleted,
         CASE WHEN iv IS NULL THEN words
              ELSE list_filter(words, (x, i) ->
                NOT len(list_filter(iv,
                  s -> i - 1 >= s.s0 AND i - 1 <= s.e0)) > 0)
         END AS cleaned
  FROM fin
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_spans_deleted AS BIGINT) AS n_spans_deleted,
       CAST(n_tokens - COALESCE(len(cleaned), 0) AS BIGINT) AS n_removed,
       md5(COALESCE(array_to_string(cleaned, ' '), '')) AS cleaned_md5
FROM cl
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(_t(spark, sf_dir, "documents"), budget=2048)


O_PACK_SEQUENCES = """
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT doc_id, source, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_offset,
       CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS bin_id
FROM c
"""

_SNAP_SOURCES = "('src0', 'src1', 'src2', 'src3', 'src4')"


def q_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    snap_sources = ["src0", "src1", "src2", "src3", "src4"]
    snapshot = docs.filter(F.col("source").isin(snap_sources))
    incoming = docs.filter(~F.col("source").isin(snap_sources))
    return incremental_ingest(incoming, snapshot)


O_INCREMENTAL_INGEST = f"""
WITH snap AS (
  SELECT DISTINCT md5(text) AS fingerprint FROM documents
  WHERE source IN {_SNAP_SOURCES} AND text IS NOT NULL
),
inc AS (
  -- NULL-text docs are not ingestible (see incremental_ingest);
  -- without the filter the NOT-IN form drops them while Spark's
  -- anti-join would keep them — a cross-engine divergence
  SELECT md5(text) AS fingerprint, doc_id FROM documents
  WHERE source NOT IN {_SNAP_SOURCES} AND text IS NOT NULL
)
SELECT fingerprint, MIN(doc_id) AS doc_id
FROM inc
WHERE fingerprint NOT IN (SELECT fingerprint FROM snap)
GROUP BY fingerprint
"""


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via the KMV sketch (k=64), exact
    count alongside for the accuracy report."""
    from bolson_spark.functions.sketch import kmv_distinct

    return kmv_distinct(
        _t(spark, sf_dir, "events"), "user_id", "event_type", k=64
    )


# 2^60 — the KMV/weighted-sample draw space (functions/sketch.py).
_HS = float(1 << 60)

O_KMV_DISTINCT = f"""
WITH keys AS (
  -- NULL keys excluded on BOTH engines: Spark's md5_draw(NULL) is a
  -- constant while this md5('kmv|'||CAST(...)) is NULL — without the
  -- filter the two sides diverge the moment a null key appears
  SELECT DISTINCT event_type, user_id FROM events
  WHERE user_id IS NOT NULL
),
u AS (
  SELECT event_type, user_id,
         ('0x' || substr(md5('kmv|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS v
  FROM keys
),
ranked AS (
  SELECT event_type, user_id, v,
         row_number() OVER (PARTITION BY event_type ORDER BY v, user_id) AS rn
  FROM u
),
kth AS (
  SELECT event_type, v AS v_k FROM ranked WHERE rn = 64
),
exact AS (
  SELECT event_type, COUNT(*) AS n_exact FROM keys GROUP BY event_type
)
SELECT e.event_type,
       CAST(e.n_exact AS BIGINT) AS n_exact,
       COALESCE(63.0 / (CAST(k.v_k AS DOUBLE) / {_HS!r}),
                CAST(e.n_exact AS DOUBLE)) AS kmv_estimate
FROM exact e LEFT JOIN kth k USING (event_type)
"""


def q_source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap audit ("is src7 a re-crawl of src3?")
    over 3-gram shingle SETS, estimated from merged KMV sketches (see
    functions/sketch.py::kmv_set_overlap): every source pair gets a
    Jaccard + union-size estimate from G sketches of 64 values — the
    corpus is scanned once and the pair stage never touches it. The
    dataset-mixing diagnostic every multi-source pipeline wants before
    deciding what to dedup across; exact Jaccard rides along for the
    accuracy report."""
    from bolson_spark.functions.dedup import _spread
    from bolson_spark.functions.sketch import kmv_set_overlap
    from bolson_spark.functions.text import tokens

    from bolson_spark.functions.text import bind_array

    # spread the under-split scan before the 3-gram build: concat_ws
    # + md5 per gram is the heavy narrow map here (measured 2.36 ->
    # 1.65 s warm min-of-3; no-op on well-split production input)
    docs = _spread(_t(spark, sf_dir, "documents"))
    tok = tokens(F.col("text"))
    # bind the split once per row (HOF-capture pitfall — the lambda's
    # slice(tok, ...) would otherwise re-split per shingle)
    gram_arr = bind_array(
        tok,
        lambda t: F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(t) - 3),
                lambda i: F.concat_ws(" ", F.slice(t, i + 1, 3)),
            )
        ),
    )
    # explode_once + when-guard (see text.explode_once): the old
    # where(size>=3) pushed a re-tokenize to the scan and the plain
    # explode's inferred size()>0 filter re-ran the whole gram build
    # there too — short docs now map to NULL (filtered marker row)
    from bolson_spark.functions.text import explode_once

    grams = explode_once(
        docs,
        ["source"],
        F.when(F.size(tok) >= 3, gram_arr),
        ["gram"],
    )
    return kmv_set_overlap(grams, "gram", "source", k=64)


O_SOURCE_OVERLAP_KMV = f"""
WITH keys AS MATERIALIZED (
  SELECT DISTINCT source, g FROM (
    SELECT source, unnest(list_distinct(list_transform(
      range(1, len(string_split(text, ' ')) - 1),
      i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS g
    FROM documents
    WHERE len(string_split(text, ' ')) >= 3
  )
),
drawn AS (
  SELECT source, g,
         ('0x' || substr(md5('kmv|' || g), 1, 15))::BIGINT AS v
  FROM keys
),
ranked AS (
  SELECT source, v,
         row_number() OVER (PARTITION BY source ORDER BY v, g) AS rn
  FROM drawn
),
sk AS MATERIALIZED (
  SELECT source, list(v ORDER BY v) AS s
  FROM ranked WHERE rn <= 64 GROUP BY source
),
sz AS MATERIALIZED (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM keys GROUP BY source
),
inter AS MATERIALIZED (
  SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS i
  FROM keys a JOIN keys b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
),
pairs AS (
  SELECT a.source AS group_a, b.source AS group_b,
         x.n AS n_a, y.n AS n_b,
         list_sort(list_distinct(a.s || b.s)) AS u,
         a.s AS ska, b.s AS skb
  FROM sk a JOIN sk b ON a.source < b.source
  JOIN sz x ON x.source = a.source
  JOIN sz y ON y.source = b.source
),
est AS (
  SELECT group_a, group_b, n_a, n_b,
         CAST(len(u) AS BIGINT) AS ulen,
         CAST(len(list_intersect(list_intersect(u[1:64], ska), skb))
              AS BIGINT) AS shared,
         CASE WHEN len(u) < 64 THEN CAST(len(u) AS DOUBLE)
              ELSE 63.0 / (CAST(u[64] AS DOUBLE) / {_HS!r}) END AS union_est
  FROM pairs
)
SELECT group_a, group_b, n_a, n_b,
       union_est AS kmv_union_est,
       (1000000 * shared) // LEAST(64, ulen) AS kmv_jaccard_e6,
       (1000000 * COALESCE(i, 0)) // (n_a + n_b - COALESCE(i, 0))
         AS exact_jaccard_e6
FROM est LEFT JOIN inter ON sa = group_a AND sb = group_b
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample of 50 documents, weight = n_chars
    (longer documents proportionally likelier — the by-bytes corpus
    subsampling shape)."""
    from bolson_spark.functions.sketch import weighted_sample

    return weighted_sample(
        _t(spark, sf_dir, "documents"), "n_chars", 50
    )


O_WEIGHTED_SAMPLE = f"""
WITH drawn AS (
  SELECT doc_id, n_chars,
         ('0x' || substr(md5('ws|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS draw
  FROM documents
),
keyed AS (
  SELECT doc_id, n_chars, draw,
         pow(CAST(draw AS DOUBLE) / {_HS!r},
             1.0 / CAST(n_chars AS DOUBLE)) AS es_key
  FROM drawn
)
SELECT doc_id, n_chars, draw
FROM keyed
ORDER BY es_key DESC, doc_id
LIMIT 50
"""


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training on the documents corpus: 12 merges
    learned from the word-frequency table (deterministic — lexicographic
    tie-break — so the table is a pure function of the corpus; the
    auto driver/distributed guard in functions/bpe.py keeps the loop
    collect-bounded at any corpus size).

    Oracled since round 5: the data-dependent merge iteration IS
    DuckDB-expressible for a fixed round count — 12 UNROLLED rounds
    over a marker-delimited symbol-string vocabulary, where one SQL
    ``replace()`` per round is exactly the leftmost-greedy merge (see
    `_bpe_merge_rounds_sql`). Full rows+schema+hash gate; the
    classic-corpus pytest fixture remains the hand-derivable ground
    truth."""
    from bolson_spark.functions.bpe import bpe_train

    merges = bpe_train(_t(spark, sf_dir, "documents"), n_merges=BPE_MERGES)
    return spark.createDataFrame(
        [
            (i, left, right, left + right, n)
            for i, (left, right, n) in enumerate(merges)
        ],
        "merge_rank int, left string, right string, merged string, pair_count bigint",
    )


BPE_MERGES = 12

# Marker chars delimiting each symbol inside the SQL vocabulary
# string: \x1f before, \x1e after. A merge of (L, R) is then the
# string pattern '\x1fL\x1e\x1fR\x1e' -> '\x1fLR\x1e': the distinct
# markers force full-symbol alignment (no suffix of one symbol can
# complete a match), and SQL replace() scans left-to-right without
# rescanning its own output — exactly the leftmost-greedy fold of
# functions/bpe.py::_merge_pair_sql, including the L=R run-parity
# case ('aaaa' -> 'aa','aa'). Assumes corpus text contains neither
# control char (true of any printable corpus).
_BPE_SEP = "chr(31)"
_BPE_EOS = "chr(30)"


def _bpe_merge_rounds_sql(n_merges: int) -> str:
    """CTE chain re-deriving the BPE merge table in pure DuckDB SQL:
    `wf` is the word-frequency table (single-space split, matching
    functions/bpe.py::word_freq_table), `v0` wraps every character in
    symbol markers, and round i computes freq-weighted adjacent-pair
    counts (`p{i}`), picks the (count DESC, left, right) argmax
    (`b{i}` — DuckDB binary string order == Spark UTF8 binary order ==
    Python codepoint order on ASCII), and applies the merge with one
    `replace()` (`v{i+1}`). Every per-round CTE is MATERIALIZED:
    DuckDB inlines plain CTEs, and v{i}'s two consumers would
    otherwise re-expand the whole chain 2^rounds times."""
    parts = [f"""wf AS MATERIALIZED (
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
  GROUP BY w
),
v0 AS MATERIALIZED (
  SELECT regexp_replace(word, '(.)', {_BPE_SEP} || '\\1' || {_BPE_EOS}, 'g') AS s, freq
  FROM wf
)"""]
    for i in range(n_merges):
        parts.append(f"""p{i} AS MATERIALIZED (
  SELECT syms[i] AS lft, syms[i+1] AS rgt, CAST(SUM(freq) AS BIGINT) AS n
  FROM (
    SELECT UNNEST(range(1, len(syms))) AS i, syms, freq
    FROM (SELECT string_split(trim(s, {_BPE_SEP} || {_BPE_EOS}), {_BPE_EOS} || {_BPE_SEP}) AS syms, freq FROM v{i})
    WHERE len(syms) >= 2
  )
  GROUP BY 1, 2
),
b{i} AS MATERIALIZED (SELECT lft, rgt, n FROM p{i} ORDER BY n DESC, lft, rgt LIMIT 1),
v{i+1} AS MATERIALIZED (
  SELECT replace(v.s, {_BPE_SEP} || b.lft || {_BPE_EOS} || {_BPE_SEP} || b.rgt || {_BPE_EOS},
                 {_BPE_SEP} || b.lft || b.rgt || {_BPE_EOS}) AS s, v.freq
  FROM v{i} v CROSS JOIN b{i} b
)""")
    return ",\n".join(parts)


def _bpe_train_sql(n_merges: int = BPE_MERGES) -> str:
    union = "\nUNION ALL\n".join(
        f'SELECT {i} AS merge_rank, lft AS "left", rgt AS "right", '
        f"lft || rgt AS merged, n AS pair_count FROM b{i}"
        for i in range(n_merges)
    )
    return (
        f"WITH {_bpe_merge_rounds_sql(n_merges)}\n"
        f"SELECT * FROM (\n{union}\n) ORDER BY merge_rank"
    )


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture sampling over languages: alpha=0.5 (sqrt
    rebalancing), target 30% of the corpus — small languages up-
    weighted relative to their raw share."""
    from bolson_spark.functions.sketch import temperature_mix

    return temperature_mix(
        _t(spark, sf_dir, "documents"), "lang", alpha=0.5, target_frac=0.3
    )


O_TEMPERATURE_MIX = """
WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n_s FROM documents GROUP BY lang
),
fracs AS (
  SELECT lang,
         LEAST(1.0,
               0.3 * SUM(n_s) OVER () * pow(n_s, -0.5)
               / SUM(pow(n_s, 0.5)) OVER ()) AS keep_frac
  FROM counts
)
SELECT d.doc_id, d.lang
FROM documents d JOIN fracs USING (lang)
WHERE keep_frac >= 1.0
   OR substr(md5('tmix|' || CAST(d.doc_id AS VARCHAR)), 1, 8)
      < printf('%08x', LEAST(CAST(FLOOR(keep_frac * 4294967296.0) AS BIGINT), 4294967295))
"""


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering of orders on (customer, order day)
    with per-bucket min/max skipping statistics — the data-layout
    operator behind multi-dimensional scan pruning at 100 TB."""
    from bolson_spark.functions.layout import zorder_stats

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias(
            "o_days"
        ),
    )
    return zorder_stats(orders, "o_custkey", "o_days")


O_ZORDER_LAYOUT = """
WITH t AS (
  SELECT o_custkey,
         date_diff('day', DATE '1970-01-01', o_orderdate) AS o_days
  FROM orders
),
b AS (
  SELECT MIN(o_custkey) AS xmin, MAX(o_custkey) AS xmax,
         MIN(o_days) AS ymin, MAX(o_days) AS ymax
  FROM t
),
s AS (
  SELECT o_custkey, o_days,
         CAST(FLOOR((o_custkey - xmin) * 65536.0 / (xmax - xmin + 1)) AS BIGINT) AS xs,
         CAST(FLOOR((o_days - ymin) * 65536.0 / (ymax - ymin + 1)) AS BIGINT) AS ys
  FROM t, b
),
z AS (
  SELECT o_custkey, o_days,
         CAST(list_sum(list_transform(range(0, 16), i ->
           (((xs >> i) & 1) << (2 * i)) + (((ys >> i) & 1) << (2 * i + 1))
         )) AS BIGINT) AS zval
  FROM s
)
SELECT CAST(zval >> 24 AS BIGINT) AS zbucket,
       COUNT(*) AS n_rows,
       MIN(o_custkey) AS min_o_custkey, MAX(o_custkey) AS max_o_custkey,
       MIN(o_days) AS min_o_days, MAX(o_days) AS max_o_days
FROM z GROUP BY 1
"""


# ---------------------------------------------------------------------------
# BM25 retrieval scoring
# ---------------------------------------------------------------------------

BM25_TERMS = ("spark", "join", "filter")
BM25_K1 = 1.2
BM25_B = 0.75


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) for every matching document — the reusable
    scorer behind bm25_search and hybrid_search. Corpus stats (N,
    avgdl, per-term document frequency) are ONE aggregate broadcast
    back as a 1-row join; scoring is a narrow codegen map. The
    per-term tf counts each term's occurrences with a lambda filter —
    no explode, so the doc stream is never multiplied."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    dl = F.size(toks).cast("double")
    # NB: the predicate must be arity-1 — Spark passes the element
    # INDEX as a second lambda argument if the callable accepts one,
    # which a `lambda w, t=t:` default-arg closure accidentally does.
    def _eq(term: str):
        return lambda w: w == F.lit(term)

    tf = {
        t: F.size(F.filter(toks, _eq(t))).cast("double")
        for t in BM25_TERMS
    }
    with_tf = docs.select(
        "doc_id",
        dl.alias("dl"),
        *[tf[t].alias(f"tf_{i}") for i, t in enumerate(BM25_TERMS)],
    )
    stats = with_tf.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("int"))
            .cast("double")
            .alias(f"df_{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    score = None
    for i in range(len(BM25_TERMS)):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        part = idf * (
            F.col(f"tf_{i}")
            * (BM25_K1 + 1.0)
            / (
                F.col(f"tf_{i}")
                + BM25_K1
                * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )
        score = part if score is None else score + part
    return (
        with_tf.crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(score, 6).alias("bm25"))
        .where(F.col("bm25") > 0)
    )


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 against the fixed term query — the retrieval
    primitive behind search-based data curation; TakeOrdered top-k
    over the scorer's narrow map."""
    return (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


def _bm25_sql(limit: int = 20) -> str:
    tf = {
        t: f"CAST(len(list_filter(string_split(text, ' '), w -> w = '{t}')) AS DOUBLE)"
        for t in BM25_TERMS
    }
    parts = []
    for i, t in enumerate(BM25_TERMS):
        idf = f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        parts.append(
            f"{idf} * (tf_{i} * {BM25_K1 + 1.0} / "
            f"(tf_{i} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl)))"
        )
    tf_cols = ",\n         ".join(
        f"{tf[t]} AS tf_{i}" for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
        for i in range(len(BM25_TERMS))
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
         {tf_cols}
  FROM documents
),
s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl,
         {df_cols}
  FROM t
)
SELECT doc_id, ROUND({' + '.join(parts)}, 6) AS bm25
FROM t, s
WHERE ROUND({' + '.join(parts)}, 6) > 0
ORDER BY bm25 DESC, doc_id ASC
LIMIT {limit}
"""


O_BM25_SEARCH = _bm25_sql()


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 candidate generation (top-50 lexical)
    re-ranked by embedding cosine to the query vector — the standard
    two-stage search stack (cheap wide recall, expensive narrow
    precision). The embeddings table is probed ONLY for the 50
    candidates (broadcast semi of the candidate ids at scale); the
    combined score weights the rounded components so both engines sum
    identical doubles."""
    from bolson_spark.functions.similarity import (
        _query_vector_lit,
        cosine_similarity_col,
    )
    from bolson_spark.queries import _query_vec

    cand = (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(50)
    )
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vector_lit(_query_vec(spark, sf_dir))
    joined = cand.join(emb, cand.doc_id == emb.vec_id)
    cos = F.round(cosine_similarity_col(F.col("embedding"), qv), 6)
    hybrid = F.round(F.lit(0.2) * F.col("bm25") + F.col("cosine"), 6)
    return (
        joined.select("doc_id", "bm25", cos.alias("cosine"))
        .select("doc_id", "bm25", "cosine", hybrid.alias("hybrid_score"))
        .orderBy(F.desc("hybrid_score"), F.asc("doc_id"))
        .limit(10)
    )


def _hybrid_sql() -> str:
    from bolson_spark.queries import _cosine_sql

    return f"""
WITH cand AS ({_bm25_sql(limit=50)}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT c.doc_id, c.bm25,
         ROUND({_cosine_sql("e.embedding", "q.qv")}, 6) AS cosine
  FROM cand c JOIN embeddings e ON c.doc_id = e.vec_id, q
)
SELECT doc_id, bm25, cosine,
       ROUND(0.2 * bm25 + cosine, 6) AS hybrid_score
FROM scored
ORDER BY hybrid_score DESC, doc_id ASC
LIMIT 10
"""


def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report: how much of each source is
    exact-duplicate mass — the triage number that decides which dedup
    tier (exact / near / none) a source needs. One aggregation with a
    distinct-inside (two map-side-combined shuffles)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("source", F.md5("text").alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            F.round(
                1.0 - F.col("n_unique") / F.col("n_docs").cast("double"), 6
            ).alias("dup_rate"),
        )
    )


O_DEDUP_REPORT = """
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS n_unique,
       ROUND(1.0 - COUNT(DISTINCT md5(text)) / CAST(COUNT(*) AS DOUBLE), 6)
         AS dup_rate
FROM documents GROUP BY source
"""


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion counts of the stopword language-ID heuristic against
    the corpus ground-truth lang column — the evaluation table for any
    classifier operator (same eval pattern as ann_recall)."""
    from bolson_spark.functions.text import language_id

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", language_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _langid_confusion_sql() -> str:
    from bolson_spark.queries import _SW

    return f"""
SELECT lang,
       CASE WHEN text IS NULL THEN NULL
            WHEN CAST(len(list_filter(string_split(text, ' '),
                                      w -> w IN ({_SW}))) AS DOUBLE)
                 / len(string_split(text, ' ')) >= 0.05
            THEN 'en' ELSE 'other' END AS lang_pred,
       COUNT(*) AS n
FROM documents
GROUP BY 1, 2
"""


def _hourly_means(ev: DataFrame) -> DataFrame:
    """Per-(event_type, hour) mean value with a decimal-exact sum —
    the shared first stage of the time-series queries (resample fills,
    anomaly flags). Rounded to 6 so both engines carry identical
    doubles downstream."""
    return ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_value")
    )


# DuckDB twin of _hourly_means (shared CTE body).
_SQL_HOURLY = """
  SELECT event_type, date_trunc('hour', ts) AS hour,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)
           AS avg_value
  FROM events GROUP BY 1, 2
"""


def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher Table-A1 repetition family per document —
    top-{2,3,4}-gram and duplicated-{5..8}-gram character fractions
    plus the composite keep flag (quality_metrics carries only the
    top-bigram slot fraction). See functions/quality.py::
    repetition_metrics for the published-approximation conventions
    (count x chars(gram) / chars(doc), ties by gram ASC)."""
    from bolson_spark.functions.quality import repetition_metrics

    return repetition_metrics(_t(spark, sf_dir, "documents"))


def _repetition_metrics_sql() -> str:
    from bolson_spark.functions.quality import (
        DUP_NGRAM_CHAR_FRAC_MAX,
        TOP_NGRAM_CHAR_FRAC_MAX,
    )

    tops = sorted(TOP_NGRAM_CHAR_FRAC_MAX)
    dups = sorted(DUP_NGRAM_CHAR_FRAC_MAX)
    ns_values = ", ".join(f"({n})" for n in tops + dups)
    pivots = ",\n       ".join(
        f"MAX(CASE WHEN n = {n} THEN chars END) AS ch{n}"
        for n in tops + dups
    )
    fracs = ",\n       ".join(
        f"CASE WHEN COALESCE(len(d.text), 0) = 0 THEN 0.0\n"
        f"            ELSE ROUND(CAST(COALESCE(ch{n}, 0) AS DOUBLE)"
        f" / len(d.text), 6) END AS "
        + (f"top{n}_char_frac" if n in TOP_NGRAM_CHAR_FRAC_MAX
           else f"dup{n}_char_frac")
        for n in tops + dups
    )
    keep = " AND ".join(
        [f"top{n}_char_frac <= {t}" for n, t in TOP_NGRAM_CHAR_FRAC_MAX.items()]
        + [f"dup{n}_char_frac <= {t}" for n, t in DUP_NGRAM_CHAR_FRAC_MAX.items()]
    )
    return f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
g AS (
  SELECT doc_id, n,
         array_to_string(words[i:i+n-1], ' ') AS gram
  FROM w, (VALUES {ns_values}) AS nn(n),
       UNNEST(range(1, greatest(len(words) - (n - 1), 0) + 1)) AS t(i)
),
c AS (
  SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY doc_id, n, gram
),
top AS (
  SELECT doc_id, n, c * len(gram) AS chars
  FROM c WHERE n IN ({", ".join(map(str, tops))})
  QUALIFY row_number() OVER (
    PARTITION BY doc_id, n ORDER BY c DESC, gram ASC) = 1
),
dup AS (
  SELECT doc_id, n, SUM(c * len(gram)) AS chars
  FROM c WHERE n IN ({", ".join(map(str, dups))}) AND c >= 2
  GROUP BY doc_id, n
),
u AS (SELECT * FROM top UNION ALL SELECT * FROM dup),
per AS (
  SELECT doc_id,
       {pivots}
  FROM u GROUP BY doc_id
),
fr AS (
  SELECT d.doc_id,
       CAST(COALESCE(len(d.text), 0) AS BIGINT) AS n_chars,
       {fracs}
  FROM documents d LEFT JOIN per USING (doc_id)
)
SELECT *, ({keep}) AS keep FROM fr
"""


def q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights against a trusted-source target: src0
    plays the curated reference set (the Wikipedia/books role in Xie
    et al. 2023), the whole corpus is the raw pool, and every document
    gets log p_target/p_raw under add-one unigram LMs plus the
    zero-threshold selection flag. See functions/quality.py::
    dsir_logratio for the determinism recipe."""
    from bolson_spark.functions.quality import dsir_logratio

    docs = _t(spark, sf_dir, "documents")
    return dsir_logratio(docs, docs.where(F.col("source") == "src0"))


def _dsir_scored_cte(src: str = "documents") -> str:
    """The ONE SQL definition of DSIR unigram importance scoring
    (mirrors functions/quality.py::dsir_logratio), parametrized by the
    raw-pool relation so the standalone weight query and the budgeted
    resample/composition oracles cannot drift. Target is always the
    curated src0 slice of the FULL documents table (the trusted
    reference set is independent of pool filtering); target tokens
    outside the pool vocabulary are excluded on both sides of the
    ratio — the shared-support smoothing rule dsir_logratio
    documents."""
    return f"""raw_toks AS (
  SELECT doc_id, UNNEST(list_filter(string_split(text, ' '),
                                    x -> x <> '')) AS tok
  FROM {src}
),
raw AS (SELECT tok, COUNT(*) AS cr FROM raw_toks GROUP BY tok),
tgt AS (
  SELECT tok, COUNT(*) AS ct FROM (
    SELECT UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
    FROM documents WHERE source = 'src0'
  ) GROUP BY tok
),
stats AS (
  SELECT SUM(cr) AS nr, SUM(COALESCE(ct, 0)) AS nt, COUNT(*) AS v
  FROM raw LEFT JOIN tgt USING (tok)
),
lr AS (
  SELECT tok,
         CAST(ROUND(
           ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE))
           - ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + v AS DOUBLE)),
         6) AS DECIMAL(28,6)) AS lrat
  FROM raw LEFT JOIN tgt USING (tok) CROSS JOIN stats
),
scored AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(lrat) AS w
  FROM raw_toks JOIN lr USING (tok) GROUP BY doc_id
)"""


O_DSIR_SELECTION = f"""
WITH {_dsir_scored_cte("documents")}
SELECT d.doc_id,
       CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       ROUND(CAST(COALESCE(s.w, 0) AS DOUBLE), 6) AS dsir_logweight,
       COALESCE(s.w, 0) > 0 AS selected
FROM documents d LEFT JOIN scored s USING (doc_id)
"""

# 2^60 as an exact double — the md5_draw hash space (sketch.py)
_HASH_SPACE_SQL = "1152921504606846976.0"


def _dsir_resample_sql(src: str = "documents", budget_frac: float = 0.25) -> str:
    """Oracle for the budgeted Gumbel resample: the scored pool gets
    ``resample_key = round(logweight - ln(-ln(u)), 6)`` with the same
    md5-derived uniform as the Spark side, then the greedy budget fill
    as ONE window cumsum (the oracle need not be scalable — the Spark
    side's bucketed 3-pass cumsum is the 100 TB shape, and the two
    must agree row-for-row, which is exactly what the differential
    checks)."""
    return f"""WITH {_dsir_scored_cte(src)},
base AS (
  SELECT d.doc_id,
         CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
         ROUND(CAST(COALESCE(s.w, 0) AS DOUBLE), 6) AS dsir_logweight
  FROM {src} d LEFT JOIN scored s USING (doc_id)
),
keyed AS (
  SELECT *,
         ROUND(dsir_logweight + -ln(-ln(
           (('0x' || substr(md5('dsir|' || CAST(doc_id AS VARCHAR)), 1, 15))
              ::BIGINT + 0.5) / {_HASH_SPACE_SQL})), 6) AS resample_key
  FROM base
),
tot AS (
  SELECT CAST(FLOOR({budget_frac} * SUM(n_tokens)) AS BIGINT) AS budget
  FROM keyed
),
cum AS (
  SELECT *,
         SUM(n_tokens) OVER (ORDER BY resample_key DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens
           AS cum_before
  FROM keyed
)
SELECT doc_id, n_tokens, dsir_logweight, resample_key
FROM cum, tot WHERE cum_before < budget
"""


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted DSIR importance resampling over the raw corpus
    (target = the curated src0 slice): the Gumbel-top-k weighted
    sample under a 25%-of-corpus token budget — the published
    pipeline's final selection step (Xie et al. 2023 §3), with the
    scalable bucketed cumsum standing in for the single-reducer
    prefix sum. See functions/quality.py::dsir_resample."""
    from bolson_spark.functions.quality import dsir_resample

    docs = _t(spark, sf_dir, "documents")
    return dsir_resample(docs, docs.where(F.col("source") == "src0"))


def q_training_corpus_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR-selected training pipeline (r9 VERDICT #2): Gopher
    quality gate -> budgeted DSIR importance resample toward the
    curated src0 target -> sequence packing. This is the published
    DSIR deployment shape — importance resampling REPLACES the
    near-dup/mixture stages as the data-selection mechanism (Xie et
    al. resample from the quality-filtered raw pool straight into
    the training mix).

    Scale shape: quality is a zero-shuffle narrow map; the DSIR
    stage is two map-side-combined token aggregations, one broadcast
    stats row, a vocab equi-join back, and the 3-pass BUCKETED budget
    cumsum (no single-reducer window — the add_seq_scalable argument,
    see dsir_resample); packing is the per-source-shard cumsum. The
    selected-pool boundary is read twice (semi-join + pack), same
    stage-boundary pattern as every flagship.

    Output: (doc_id, source, lang, n_tokens, start_offset, bin_id) —
    n_tokens is the packing definition (raw single-space split) over
    the selected docs."""
    from bolson_spark.functions.corpus import pack_sequences as _pack
    from bolson_spark.functions.quality import (
        dsir_resample,
        quality_metrics,
    )

    from bolson_spark.functions.dedup import _spread_hash

    # hash-spread the corpus ONCE at pipeline entry (no-op on
    # well-split input): quality_metrics is now a pure narrow map, so
    # without this the broadcast semi-join would pin the whole
    # downstream pipeline (decontaminate gram stream, span windows,
    # minhash) to the scan's file-split count — one core on a
    # single-file bench input. Hash on doc_id, not round-robin: every
    # downstream stage joins/groups on doc_id, so the one exchange
    # pre-satisfies them all (measured vs round-robin in _spread_hash)
    docs = _spread_hash(_t(spark, sf_dir, "documents"))
    # cache the gate's tiny id-list: quality_metrics is all-narrow now,
    # so it has no Exchange for ReusedExchange to dedup across the
    # pipeline's 3-4 references to the filtered corpus — without this
    # persist every branch re-evaluates the full metric struct per doc
    kept_q = where_once(quality_metrics(docs), F.col("keep")).select(
        "doc_id"
    ).cache()
    s1 = docs.join(kept_q, "doc_id", "left_semi")
    target = docs.where(F.col("source") == "src0")
    kept = dsir_resample(s1, target, budget_frac=0.25)
    s2 = s1.join(kept.select("doc_id"), "doc_id", "left_semi")
    packed = _pack(s2, budget=2048)
    return packed.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "source", "lang", "n_tokens", "start_offset", "bin_id"
    )


def _training_corpus_dsir_sql() -> str:
    from bolson_spark.queries_train import O_GOPHER_QUALITY

    return f"""
WITH kept_q AS (
  SELECT doc_id FROM ({O_GOPHER_QUALITY}) WHERE keep
),
s1 AS MATERIALIZED (
  SELECT d.* FROM documents d JOIN kept_q USING (doc_id)
),
sel AS (
  SELECT doc_id FROM ({_dsir_resample_sql("s1")})
),
s2 AS (
  SELECT s1.* FROM s1 JOIN sel USING (doc_id)
),
toks AS (
  SELECT doc_id, source, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM s2
),
packed AS (
  SELECT doc_id, source, lang, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM toks
)
SELECT doc_id, source, lang, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_offset,
       CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS bin_id
FROM packed
"""


def q_quality_rule_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-rule violation matrix: for each source, how
    many documents fail each Gopher rule — the triage table that tells
    a pipeline WHICH filter is rejecting a source's mass (vs. the
    binary keep flag). One metric pass + one conditional-sum
    aggregation keyed by source."""
    from bolson_spark.functions.quality import (
        MAX_SYMBOL_WORD_RATIO,
        MAX_TOP_BIGRAM_FRAC,
        MAX_WORDS,
        MIN_ALPHA_WORD_FRAC,
        MIN_MEAN_WORD_LEN,
        MAX_MEAN_WORD_LEN,
        MIN_UNIQUE_WORD_FRAC,
        MIN_WORDS,
        quality_metrics,
    )

    docs = _t(spark, sf_dir, "documents")
    m = quality_metrics(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )

    def viol(cond, name):
        return F.sum(cond.cast("int")).cast("bigint").alias(name)

    return m.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        viol(
            ~F.col("n_words").between(MIN_WORDS, MAX_WORDS), "bad_n_words"
        ),
        viol(
            ~F.col("mean_word_len").between(
                MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN
            ),
            "bad_word_len",
        ),
        viol(
            F.col("alpha_word_frac") < MIN_ALPHA_WORD_FRAC, "bad_alpha"
        ),
        viol(
            F.col("symbol_word_ratio") > MAX_SYMBOL_WORD_RATIO,
            "bad_symbols",
        ),
        viol(
            F.col("unique_word_frac") < MIN_UNIQUE_WORD_FRAC,
            "bad_unique",
        ),
        viol(
            F.coalesce(F.col("top_bigram_frac"), F.lit(0.0))
            > MAX_TOP_BIGRAM_FRAC,
            "bad_repetition",
        ),
    )


def _quality_rule_matrix_sql() -> str:
    from bolson_spark.queries_train import O_GOPHER_QUALITY

    return f"""
WITH m AS (
  SELECT q.*, d.source
  FROM ({O_GOPHER_QUALITY}) q JOIN documents d USING (doc_id)
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN NOT (n_words BETWEEN 20 AND 100000)
                THEN 1 ELSE 0 END) AS BIGINT) AS bad_n_words,
       CAST(SUM(CASE WHEN NOT (mean_word_len BETWEEN 2.0 AND 12.0)
                THEN 1 ELSE 0 END) AS BIGINT) AS bad_word_len,
       CAST(SUM(CASE WHEN alpha_word_frac < 0.8
                THEN 1 ELSE 0 END) AS BIGINT) AS bad_alpha,
       CAST(SUM(CASE WHEN symbol_word_ratio > 0.1
                THEN 1 ELSE 0 END) AS BIGINT) AS bad_symbols,
       CAST(SUM(CASE WHEN unique_word_frac < 0.2
                THEN 1 ELSE 0 END) AS BIGINT) AS bad_unique,
       CAST(SUM(CASE WHEN COALESCE(top_bigram_frac, 0.0) > 0.20
                THEN 1 ELSE 0 END) AS BIGINT) AS bad_repetition
FROM m GROUP BY source
"""


def q_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the data-quality sweep a pipeline
    runs after every load: orphan foreign keys across the warehouse
    relationships plus modality coverage (documents without an
    embedding row). Each check is a left-anti join reduced to a count;
    the union of five 1-row aggregates is driver-trivial while each
    check itself scans/shuffles only its two key columns."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")

    def orphans(child, fk, parent, pk, name):
        return (
            child.select(F.col(fk).alias("k"))
            .join(parent.select(F.col(pk).alias("k")), "k", "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(name).alias("relationship"), "n_orphans")
        )

    checks = [
        orphans(li, "l_orderkey", orders, "o_orderkey", "lineitem->orders"),
        orphans(orders, "o_custkey", cust, "c_custkey", "orders->customer"),
        orphans(cust, "c_nationkey", nation, "n_nationkey", "customer->nation"),
        orphans(supp, "s_nationkey", nation, "n_nationkey", "supplier->nation"),
        orphans(
            docs.select(F.col("doc_id").alias("k")).alias("d"),
            "k",
            emb.select(F.col("vec_id").alias("k")).alias("e"),
            "k",
            "documents->embeddings",
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.select(
        "relationship", F.col("n_orphans").cast("bigint").alias("n_orphans")
    )


O_INTEGRITY_AUDIT = """
SELECT 'lineitem->orders' AS relationship,
       CAST(COUNT(*) AS BIGINT) AS n_orphans
FROM lineitem l WHERE NOT EXISTS
  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'orders->customer',
       CAST(COUNT(*) AS BIGINT)
FROM orders o WHERE NOT EXISTS
  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'customer->nation',
       CAST(COUNT(*) AS BIGINT)
FROM customer c WHERE NOT EXISTS
  (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
UNION ALL
SELECT 'supplier->nation',
       CAST(COUNT(*) AS BIGINT)
FROM supplier s WHERE NOT EXISTS
  (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)
UNION ALL
SELECT 'documents->embeddings',
       CAST(COUNT(*) AS BIGINT)
FROM documents d WHERE NOT EXISTS
  (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training:
    documents that score HIGH lexically (BM25 candidates) but are NOT
    semantic neighbors of the query (anti-join against the exact
    embedding top-10) — the textbook hard-negative definition. Top-10
    of the survivors by BM25. Composes the already-verified scorer and
    kNN plans; the anti-join removes a 10-row broadcast set."""
    from bolson_spark.functions.similarity import knn_bruteforce
    from bolson_spark.queries import _query_vec

    cand = (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(50)
    )
    emb = _t(spark, sf_dir, "embeddings")
    positives = knn_bruteforce(emb, _query_vec(spark, sf_dir), k=10).select(
        F.col("vec_id").alias("doc_id")
    )
    return (
        cand.join(F.broadcast(positives), "doc_id", "left_anti")
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


def _hard_negatives_sql() -> str:
    from bolson_spark.queries import O_KNN_BRUTEFORCE

    return f"""
WITH cand AS ({_bm25_sql(limit=50)}),
pos AS (SELECT vec_id AS doc_id FROM ({O_KNN_BRUTEFORCE}))
SELECT doc_id, bm25
FROM cand
WHERE doc_id NOT IN (SELECT doc_id FROM pos)
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
"""


def q_fuzzy_match_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocked fuzzy join: corrupted part-name
    probes (6th character deleted — a deterministic typo model) are
    matched back against the DISTINCT-name dictionary with
    edit-distance <= 2, candidates generated by an EQUI-join on the
    4-char prefix block key — never an all-pairs Levenshtein scan.

    Scale shape: fuzzy matching runs dictionary-side (entity
    dictionaries are small — here 64 names for 2000 part rows; real
    catalogs are thousands-to-millions, still join-able), and mentions
    attach afterwards by exact equality. Blocking turns the quadratic
    string-distance problem into per-block work; the edit-distance is
    a residual predicate on the equi-join."""
    names = (
        _t(spark, sf_dir, "part").select("p_name").distinct()
    )
    probe = names.select(
        F.concat(
            F.substring("p_name", 1, 5),
            F.expr("substring(p_name, 7)"),
        ).alias("probe_name")
    ).distinct()
    block_p = F.substring("probe_name", 1, 4)
    block_n = F.substring("p_name", 1, 4)
    return (
        probe.join(names, block_p == block_n)
        .where(F.levenshtein("probe_name", "p_name") <= 2)
        .select(
            "probe_name",
            F.col("p_name").alias("matched_name"),
            F.levenshtein("probe_name", "p_name").alias("lev"),
        )
    )


O_FUZZY_MATCH_NAMES = """
WITH names AS (
  SELECT DISTINCT p_name FROM part
),
probe AS (
  SELECT DISTINCT substr(p_name, 1, 5) || substr(p_name, 7) AS probe_name
  FROM names
)
SELECT probe_name, p_name AS matched_name,
       levenshtein(probe_name, p_name) AS lev
FROM probe JOIN names
  ON substr(probe_name, 1, 4) = substr(p_name, 1, 4)
WHERE levenshtein(probe_name, p_name) <= 2
"""


def q_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report between the ingested snapshot
    (sources src0..src4) and the incoming batch: population stability
    index over fixed document-length buckets — the data-quality gate a
    pipeline runs before accepting a new crawl. ONE aggregation
    (conditional sums per side — no join of the two populations) plus
    a broadcast 1-row totals join; Laplace-smoothed shares so empty
    buckets stay finite."""
    docs = _t(spark, sf_dir, "documents")
    is_base = F.col("source").isin(
        ["src0", "src1", "src2", "src3", "src4"]
    )
    bucket = F.least(
        F.lit(9), F.floor(F.col("n_chars") / 64)
    ).cast("bigint")
    counts = docs.groupBy(bucket.alias("bucket")).agg(
        F.sum(is_base.cast("int")).cast("bigint").alias("n_base"),
        F.sum((~is_base).cast("int")).cast("bigint").alias("n_cand"),
    )
    totals = counts.agg(
        F.sum("n_base").cast("double").alias("tot_base"),
        F.sum("n_cand").cast("double").alias("tot_cand"),
    )
    p = (F.col("n_base") + 0.5) / (F.col("tot_base") + 5.0)
    q = (F.col("n_cand") + 0.5) / (F.col("tot_cand") + 5.0)
    return counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        "n_base",
        "n_cand",
        F.round(p, 6).alias("p_base"),
        F.round(q, 6).alias("p_cand"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


O_LENGTH_DRIFT = """
WITH counts AS (
  SELECT CAST(LEAST(9, FLOOR(n_chars / 64)) AS BIGINT) AS bucket,
         CAST(SUM(CASE WHEN source IN ('src0','src1','src2','src3','src4')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         CAST(SUM(CASE WHEN source IN ('src0','src1','src2','src3','src4')
                       THEN 0 ELSE 1 END) AS BIGINT) AS n_cand
  FROM documents GROUP BY 1
),
totals AS (
  SELECT CAST(SUM(n_base) AS DOUBLE) AS tot_base,
         CAST(SUM(n_cand) AS DOUBLE) AS tot_cand
  FROM counts
)
SELECT bucket, n_base, n_cand,
       ROUND((n_base + 0.5) / (tot_base + 5.0), 6) AS p_base,
       ROUND((n_cand + 0.5) / (tot_cand + 5.0), 6) AS p_cand,
       ROUND(((n_base + 0.5) / (tot_base + 5.0)
              - (n_cand + 0.5) / (tot_cand + 5.0))
             * ln(((n_base + 0.5) / (tot_base + 5.0))
                  / ((n_cand + 0.5) / (tot_cand + 5.0))), 6) AS psi_term
FROM counts, totals
"""


def q_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: resample events to an hourly grid
    per event type and gap-fill with last-observation-carried-forward
    — the densification step before any windowed feature computation.

    Scale shape: the hourly grid is GENERATED (keys × sequence), never
    shuffled out of the data; per-bucket means use decimal-exact sums
    (partitioning-independent, oracle-identical); the LOCF is a per-key
    ordered window, so partition size is bounded by the time range /
    bucket width, not by event volume. Leading gaps before a key's
    first observation stay NULL — no lookbehind is invented."""
    ev = _t(spark, sf_dir, "events")
    hourly = _hourly_means(ev)
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.col("lo"), F.col("hi"), F.expr("interval 1 hour")
                )
            ).alias("hour"),
        )
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = grid.join(hourly, ["event_type", "hour"], "left")
    return joined.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.last("avg_value", ignorenulls=True).over(w).alias("value_locf"),
        F.col("avg_value").isNull().alias("was_gap"),
    )


O_RESAMPLE_LOCF = f"""
WITH b AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo,
         date_trunc('hour', MAX(ts)) AS hi
  FROM events
),
grid AS (
  SELECT t.event_type, UNNEST(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS hour
  FROM (SELECT DISTINCT event_type FROM events) t, b
),
hourly AS ({_SQL_HOURLY}),
j AS (
  SELECT g.event_type, g.hour, h.avg_value
  FROM grid g LEFT JOIN hourly h USING (event_type, hour)
)
SELECT event_type,
       strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
       last_value(avg_value IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
       avg_value IS NULL AS was_gap
FROM j
"""


def q_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample twin of resample_locf with LINEAR INTERPOLATION
    between the neighboring observed buckets (time-weighted); grid
    points outside the observed range stay NULL (no extrapolation).
    Same generated-grid scale shape; the fill needs one backward and
    one forward bounded window per key."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    hourly = _hourly_means(ev)
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 hour"))
            ).alias("hour"),
        )
    )
    joined = grid.join(hourly, ["event_type", "hour"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    t = F.unix_timestamp("hour").cast("double")
    obs_t = F.when(F.col("avg_value").isNotNull(), t)
    prev_v = F.last("avg_value", ignorenulls=True).over(wb)
    prev_t = F.last(obs_t, ignorenulls=True).over(wb)
    next_v = F.first("avg_value", ignorenulls=True).over(wf)
    next_t = F.first(obs_t, ignorenulls=True).over(wf)
    w = (t - prev_t) / (next_t - prev_t)
    interp = F.when(
        F.col("avg_value").isNotNull(), F.col("avg_value")
    ).otherwise(
        F.round(prev_v + w * (next_v - prev_v), 6)
    )
    return joined.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        interp.alias("value_interp"),
        F.col("avg_value").isNull().alias("was_gap"),
    )


O_RESAMPLE_INTERP = f"""
WITH b AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo,
         date_trunc('hour', MAX(ts)) AS hi
  FROM events
),
grid AS (
  SELECT t.event_type, UNNEST(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS hour
  FROM (SELECT DISTINCT event_type FROM events) t, b
),
hourly AS ({_SQL_HOURLY}),
j AS (
  SELECT g.event_type, g.hour, h.avg_value,
         CAST(epoch(g.hour) AS DOUBLE) AS t,
         CASE WHEN h.avg_value IS NOT NULL
              THEN CAST(epoch(g.hour) AS DOUBLE) END AS obs_t
  FROM grid g LEFT JOIN hourly h USING (event_type, hour)
),
w AS (
  SELECT event_type, hour, avg_value, t,
         last_value(avg_value IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         last_value(obs_t IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
         first_value(avg_value IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hour
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(obs_t IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hour
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
  FROM j
)
SELECT event_type,
       strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
       CASE WHEN avg_value IS NOT NULL THEN avg_value
            ELSE ROUND(prev_v + (t - prev_t) / (next_t - prev_t)
                       * (next_v - prev_v), 6)
       END AS value_interp,
       avg_value IS NULL AS was_gap
FROM w
"""


def q_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection on the hourly event-value series: per-type
    z-scores of bucket means, flagging |z| >= 2.5. The moments are
    decimal-exact (S1, S2 over the ROUNDED bucket means — rounding
    first makes the squared sums exactly representable), so mean and
    variance are partitioning-independent and identical across
    engines; only the final z arithmetic is float. One bucket
    aggregation + one per-type moment aggregation broadcast back."""
    ev = _t(spark, sf_dir, "events")
    hourly = _hourly_means(ev)
    m = F.col("avg_value").cast("decimal(18,6)")
    moments = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(m).cast("double").alias("s1"),
        F.sum(m * m).cast("double").alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    z = F.round((F.col("avg_value") - mean) / F.sqrt(var), 6)
    return (
        hourly.join(F.broadcast(moments), "event_type")
        .select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "avg_value",
            z.alias("z"),
        )
        .where(F.abs(F.col("z")) >= 2.5)
    )


O_VALUE_ANOMALIES = f"""
WITH hourly AS ({_SQL_HOURLY}),
moments AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(avg_value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(avg_value AS DECIMAL(18,6))
                  * CAST(avg_value AS DECIMAL(18,6))) AS DOUBLE) AS s2
  FROM hourly GROUP BY event_type
)
SELECT h.event_type,
       strftime(h.hour, '%Y-%m-%d %H:%M:%S') AS hour,
       h.avg_value,
       ROUND((h.avg_value - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS z
FROM hourly h JOIN moments m USING (event_type)
WHERE ABS(ROUND((h.avg_value - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 6)) >= 2.5
"""


def q_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: users
    counted at each stage only if the stage event happens strictly
    AFTER their previous stage's first event. Three aggregate+join
    stages, each a map-side-combined groupBy on user_id followed by a
    broadcast-sized join — no window over the full event stream."""
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after_view")))
        .crossJoin(
            p.agg(F.count(F.lit(1)).alias("n_purchase_after_click"))
        )
    )


O_CONVERSION_FUNNEL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_click_after_view,
       (SELECT COUNT(*) FROM p) AS n_purchase_after_click
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-activity week
    (Monday-truncated), counted in each later week they were active.
    Two distinct-aggregations on (user, week) + one join — the cohort
    matrix every growth dashboard computes."""
    ev = _t(spark, sf_dir, "events")
    # weeks carried as ISO strings — the repo's cross-engine rule for
    # date output columns (pandas date vs datetime64 dtype-kind skew)
    weeks = ev.select(
        "user_id",
        F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias(
            "week"
        ),
    ).distinct()
    first = weeks.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    return (
        weeks.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(
                    F.to_date("week"), F.to_date("cohort_week")
                )
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


O_RETENTION_COHORTS = """
WITH weeks AS (
  SELECT DISTINCT user_id, CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS week
  FROM events
),
first AS (
  SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY user_id
)
SELECT cohort_week,
       CAST(date_diff('day', CAST(cohort_week AS DATE), CAST(week AS DATE)) / 7.0 AS BIGINT)
         AS week_offset,
       COUNT(*) AS n_users
FROM weeks JOIN first USING (user_id)
GROUP BY 1, 2
"""


def q_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end training-data pipeline as one composition:
    Gopher quality filter -> benchmark decontamination -> exact dedup
    (min-id representative) -> temperature mixture (lang, alpha=0.5,
    target 50% of survivors) -> per-source sequence packing. Every
    stage is one of the registry's individually-oracle-proven
    operators; composing them keeps everything in a single Catalyst
    plan (semi-joins on doc_id between stages — no materialization
    barriers), which is how the real job would ship.

    Output: (doc_id, source, lang, n_tokens, start_offset, bin_id).
    """
    from bolson_spark.functions.corpus import (
        decontaminate as _dec,
        pack_sequences as _pack,
    )
    from bolson_spark.functions.quality import quality_metrics
    from bolson_spark.functions.sketch import temperature_mix as _tmix

    from bolson_spark.functions.dedup import _spread_hash

    # hash-spread the corpus ONCE at pipeline entry (no-op on
    # well-split input): quality_metrics is now a pure narrow map, so
    # without this the broadcast semi-join would pin the whole
    # downstream pipeline (decontaminate gram stream, span windows,
    # minhash) to the scan's file-split count — one core on a
    # single-file bench input. Hash on doc_id, not round-robin: every
    # downstream stage joins/groups on doc_id, so the one exchange
    # pre-satisfies them all (measured vs round-robin in _spread_hash)
    docs = _spread_hash(_t(spark, sf_dir, "documents"))
    # cache the gate's tiny id-list: quality_metrics is all-narrow now,
    # so it has no Exchange for ReusedExchange to dedup across the
    # pipeline's 3-4 references to the filtered corpus — without this
    # persist every branch re-evaluates the full metric struct per doc
    kept_q = where_once(quality_metrics(docs), F.col("keep")).select(
        "doc_id"
    ).cache()
    s1 = docs.join(kept_q, "doc_id", "left_semi")
    eval_docs = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = s1.filter(F.col("doc_id") % 17 != 0)
    # same persist rationale as kept_q: the decontamination gate's
    # id-list is read by every downstream branch of the corpus lineage
    clean = (
        _dec(corpus, eval_docs, n=8)
        .where(~F.col("contaminated"))
        .select("doc_id")
        .cache()
    )
    s2 = corpus.join(clean, "doc_id", "left_semi")
    reps = (
        s2.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # Persist the dedup survivors: the mixture stage reads s3 THREE
    # ways (lang counts, the fraction join, the packing stream), and
    # without a persist each branch re-executes the full
    # quality+decontamination+dedup upstream (measured 15.8s -> ~6s at
    # sf0.1). A production pipeline materializes exactly this stage
    # boundary (it is also the natural restart point).
    s3 = s2.join(reps, "doc_id", "left_semi").cache()
    mixed = _tmix(s3, "lang", alpha=0.5, target_frac=0.5).select("doc_id")
    s4 = s3.join(mixed, "doc_id", "left_semi")
    packed = _pack(s4, budget=2048)
    return packed.join(
        docs.select("doc_id", "lang"), "doc_id"
    ).select(
        "doc_id", "source", "lang", "n_tokens", "start_offset", "bin_id"
    )


def q_training_corpus_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """training_corpus with the dedup stage upgraded from exact
    (md5-text representative) to NEAR-duplicate survivors: quality ->
    decontaminate -> minhash-LSH connected-component dedup -> mixture
    -> packing. The near-dup stage is
    functions/dedup.py::neardup_components (the dedup_minhash_components
    machinery — rep-level LSH join, hybrid CC) run over the
    quality+decontaminated corpus; survivors are the docs that are not
    a non-representative member of any duplicate component (docs in no
    component represent themselves).

    Scale shape: identical to training_corpus except the survivor
    stage — the semi-join chain stays one Catalyst plan; the component
    mapping is the one extra stage boundary (pair graph + iterative
    propagation), exactly the boundary a production near-dup job
    materializes anyway.

    Output: (doc_id, source, lang, n_tokens, start_offset, bin_id).
    """
    from bolson_spark.functions.corpus import (
        decontaminate as _dec,
        pack_sequences as _pack,
    )
    from bolson_spark.functions.dedup import neardup_components
    from bolson_spark.functions.quality import quality_metrics
    from bolson_spark.functions.sketch import temperature_mix as _tmix

    from bolson_spark.functions.dedup import _spread_hash

    # hash-spread the corpus ONCE at pipeline entry (no-op on
    # well-split input): quality_metrics is now a pure narrow map, so
    # without this the broadcast semi-join would pin the whole
    # downstream pipeline (decontaminate gram stream, span windows,
    # minhash) to the scan's file-split count — one core on a
    # single-file bench input. Hash on doc_id, not round-robin: every
    # downstream stage joins/groups on doc_id, so the one exchange
    # pre-satisfies them all (measured vs round-robin in _spread_hash)
    docs = _spread_hash(_t(spark, sf_dir, "documents"))
    # cache the gate's tiny id-list: quality_metrics is all-narrow now,
    # so it has no Exchange for ReusedExchange to dedup across the
    # pipeline's 3-4 references to the filtered corpus — without this
    # persist every branch re-evaluates the full metric struct per doc
    kept_q = where_once(quality_metrics(docs), F.col("keep")).select(
        "doc_id"
    ).cache()
    s1 = docs.join(kept_q, "doc_id", "left_semi")
    eval_docs = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = s1.filter(F.col("doc_id") % 17 != 0)
    # same persist rationale as kept_q: the decontamination gate's
    # id-list is read by every downstream branch of the corpus lineage
    clean = (
        _dec(corpus, eval_docs, n=8)
        .where(~F.col("contaminated"))
        .select("doc_id")
        .cache()
    )
    # Persist the pre-dedup stage boundary: unlike the exact variant
    # (where s2 feeds one groupBy + one semi-join), the near-dup stage
    # reads s2 FOUR ways (set fingerprints, rep-doc pair generation,
    # membership join-back, and the survivor anti-join's left side) —
    # uncached, each re-runs the quality+decontaminate GEMM upstream
    # (measured 34.4 s -> ~8 s at sf0.1). localCheckpoint rather than
    # cache (r9): a cache dedups execution but every branch still
    # re-ANALYZES the full upstream plan — the query was ~SF-
    # independent (19.7 s sf0.01 vs 14.8 s sf0.1, driver-bound);
    # truncating the lineage at both boundaries measured 16.1 -> 9.4 s
    # warm at sf0.1. A production near-dup job materializes exactly
    # this boundary (parquet stage write); localCheckpoint is the
    # in-session analog.
    # eager=False (r11): same truncation, one fewer eager job chain —
    # the boundary materializes inside the union-find's pair count
    s2 = corpus.join(clean, "doc_id", "left_semi").localCheckpoint(
        eager=False
    )
    non_reps = (
        neardup_components(s2)
        .where(F.col("doc_id") != F.col("representative"))
        .select("doc_id")
    )
    # same persisted stage boundary as training_corpus: the mixture
    # reads survivors three ways. cache, not localCheckpoint, here:
    # with s2's lineage already truncated the re-analysis upstream of
    # s3 is shallow (measured equal, 9.0 vs 9.5 s warm), and keeping
    # the plan intact leaves the near-dup stage inspectable
    # (test_training_corpus_neardup_shuffle_budget asserts the
    # rep-level set_fp partitioning + anti-join shapes)
    s3 = s2.join(non_reps, "doc_id", "left_anti").cache()
    mixed = _tmix(s3, "lang", alpha=0.5, target_frac=0.5).select("doc_id")
    s4 = s3.join(mixed, "doc_id", "left_semi")
    packed = _pack(s4, budget=2048)
    return packed.join(
        docs.select("doc_id", "lang"), "doc_id"
    ).select(
        "doc_id", "source", "lang", "n_tokens", "start_offset", "bin_id"
    )


def _training_corpus_neardup_sql() -> str:
    from bolson_spark.queries import _minhash_sql
    from bolson_spark.queries_train import O_GOPHER_QUALITY

    return f"""
WITH RECURSIVE kept_q AS (
  SELECT doc_id FROM ({O_GOPHER_QUALITY}) WHERE keep
),
dec AS (
  SELECT doc_id FROM ({O_DECONTAMINATE}) WHERE NOT contaminated
),
s2 AS (
  SELECT d.* FROM documents d
  JOIN kept_q USING (doc_id)
  JOIN dec USING (doc_id)
  WHERE d.doc_id % 17 <> 0
),
mh AS (
  SELECT doc_a, doc_b FROM ({_minhash_sql(source="s2")})
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM mh
  UNION
  SELECT doc_b AS s, doc_a AS d FROM mh
),
reach(node, r) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
  UNION
  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node
),
comp AS (
  SELECT node AS doc_id, MIN(r) AS representative FROM reach GROUP BY node
),
s3 AS (
  SELECT s2.* FROM s2
  WHERE doc_id NOT IN (
    SELECT doc_id FROM comp WHERE doc_id <> representative
  )
),
counts AS (
  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n_s FROM s3 GROUP BY lang
),
fracs AS (
  SELECT lang,
         LEAST(1.0,
               0.5 * SUM(n_s) OVER () * pow(n_s, -0.5)
               / SUM(pow(n_s, 0.5)) OVER ()) AS keep_frac
  FROM counts
),
s4 AS (
  SELECT s3.* FROM s3 JOIN fracs USING (lang)
  WHERE keep_frac >= 1.0
     OR substr(md5('tmix|' || CAST(s3.doc_id AS VARCHAR)), 1, 8)
        < printf('%08x', LEAST(CAST(FLOOR(keep_frac * 4294967296.0) AS BIGINT), 4294967295))
),
toks AS (
  SELECT doc_id, source, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM s4
),
packed AS (
  SELECT doc_id, source, lang, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM toks
)
SELECT doc_id, source, lang, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_offset,
       CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS bin_id
FROM packed
"""


def q_training_corpus_spandedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FULL published pipeline shape (Lee et al. 2022 run exact
    SUBSTRING dedup and doc-level near-dup as separate passes):
    quality -> decontaminate -> span-strip (strip_dup_spans with the
    cleaned text flowing on) -> minhash-LSH near-dup over the CLEANED
    text -> temperature mixture -> sequence packing. The span stage
    deletes every non-canonical repeated 15-token span, so downstream
    token counts / fingerprints / packing offsets all see the cleaned
    corpus — the composition the two r8 span queries were building
    toward (r8 VERDICT #5).

    Scale shape: the growing term is the span stage's stride-1 window
    stream (n_tokens rows/doc, 3 fixed-width cols — the honest price
    of substring granularity; see strip_dup_spans); everything
    downstream is the training_corpus_neardup plan over the cleaned
    text. Three persisted stage boundaries (post-decontam corpus,
    cleaned corpus, dedup survivors) — each read 3-4 ways by its
    consumer, the same boundaries a production job materializes.

    Output: (doc_id, source, lang, n_tokens, start_offset, bin_id) —
    n_tokens measured on the CLEANED text."""
    from bolson_spark.functions.corpus import (
        decontaminate as _decf,
        pack_sequences as _pack,
        strip_dup_spans,
    )
    from bolson_spark.functions.dedup import neardup_components
    from bolson_spark.functions.quality import quality_metrics
    from bolson_spark.functions.sketch import temperature_mix as _tmix

    from bolson_spark.functions.dedup import _spread_hash

    # hash-spread the corpus ONCE at pipeline entry (no-op on
    # well-split input): quality_metrics is now a pure narrow map, so
    # without this the broadcast semi-join would pin the whole
    # downstream pipeline (decontaminate gram stream, span windows,
    # minhash) to the scan's file-split count — one core on a
    # single-file bench input. Hash on doc_id, not round-robin: every
    # downstream stage joins/groups on doc_id, so the one exchange
    # pre-satisfies them all (measured vs round-robin in _spread_hash)
    docs = _spread_hash(_t(spark, sf_dir, "documents"))
    # cache the gate's tiny id-list: quality_metrics is all-narrow now,
    # so it has no Exchange for ReusedExchange to dedup across the
    # pipeline's 3-4 references to the filtered corpus — without this
    # persist every branch re-evaluates the full metric struct per doc
    kept_q = where_once(quality_metrics(docs), F.col("keep")).select(
        "doc_id"
    ).cache()
    s1 = docs.join(kept_q, "doc_id", "left_semi")
    eval_docs = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = s1.filter(F.col("doc_id") % 17 != 0)
    # same persist rationale as kept_q
    clean = (
        _decf(corpus, eval_docs, n=8)
        .where(~F.col("contaminated"))
        .select("doc_id")
        .cache()
    )
    # boundary 1: the span stage reads s2 three ways (two window
    # generations + the reassembly join) — uncached each re-runs the
    # quality+decontaminate upstream
    s2 = corpus.join(clean, "doc_id", "left_semi").cache()
    stripped = strip_dup_spans(s2, length=15, return_text=True).select(
        "doc_id", F.col("cleaned_text").alias("text")
    )
    # boundary 2: the cleaned corpus. localCheckpoint, not cache: a
    # cache dedups EXECUTION but every downstream branch still
    # re-ANALYZES the full lineage, and the strip stage's plan (deep
    # nested-lambda HOF trees) costs ~1 s of driver-side Catalyst per
    # branch x ~20 branches downstream (measured: 44 s -> 18 s at
    # sf0.01, SF-independent — pure analysis). Truncating the lineage
    # here is the in-session analog of the parquet stage write a
    # production job does at exactly this boundary.
    s2b = (
        s2.select("doc_id", "lang", "source")
        .join(stripped, "doc_id")
        # eager=False (r11): the lineage truncation (the 44 -> 18 s
        # analysis saving) comes from the LogicalRDD boundary either
        # way; lazy materializes the boundary inside the FIRST
        # consumer job instead of as its own eager job chain,
        # dropping one driver job round-trip (measured 5.9 -> 5.5 s
        # min-of-3 at sf0.01, interleaved A/B)
        .localCheckpoint(eager=False)
    )
    non_reps = (
        neardup_components(s2b)
        .where(F.col("doc_id") != F.col("representative"))
        .select("doc_id")
    )
    # boundary 3: survivors — the mixture reads them three ways
    s3 = s2b.join(non_reps, "doc_id", "left_anti").cache()
    mixed = _tmix(s3, "lang", alpha=0.5, target_frac=0.5).select("doc_id")
    s4 = s3.join(mixed, "doc_id", "left_semi")
    packed = _pack(s4, budget=2048)
    return packed.join(
        docs.select("doc_id", "lang"), "doc_id"
    ).select(
        "doc_id", "source", "lang", "n_tokens", "start_offset", "bin_id"
    )


def _training_corpus_spandedup_sql() -> str:
    from bolson_spark.queries import _minhash_sql
    from bolson_spark.queries_train import O_GOPHER_QUALITY

    return f"""
WITH RECURSIVE kept_q AS (
  SELECT doc_id FROM ({O_GOPHER_QUALITY}) WHERE keep
),
dec AS (
  SELECT doc_id FROM ({O_DECONTAMINATE}) WHERE NOT contaminated
),
s2 AS MATERIALIZED (
  SELECT d.* FROM documents d
  JOIN kept_q USING (doc_id)
  JOIN dec USING (doc_id)
  WHERE d.doc_id % 17 <> 0
),
w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM s2
),
g AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS start,
         array_to_string(words[i:i+{_DSC_L - 1}], ' ') AS gram
  FROM w, UNNEST(range(1, greatest(len(words) - {_DSC_L - 1}, 0) + 1))
       AS t(i)
),
gc AS (SELECT gram, COUNT(*) AS c FROM g GROUP BY gram),
dup AS (
  SELECT doc_id, start, gram FROM g JOIN gc USING (gram) WHERE c >= 2
),
isl AS (
  SELECT doc_id, start, gram,
         CASE WHEN lag(start) OVER (PARTITION BY doc_id ORDER BY start)
                   IS NULL
                OR start > lag(start) OVER (
                     PARTITION BY doc_id ORDER BY start) + {_DSC_L - 1}
              THEN 1 ELSE 0 END AS brk
  FROM dup
),
isl2 AS (
  SELECT doc_id, start, gram,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY start
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM isl
),
canon AS (
  SELECT gram, MIN(ROW(doc_id, start)) AS canon
  FROM dup GROUP BY gram
),
m AS (
  SELECT i.doc_id, i.start, i.island,
         CASE WHEN ROW(i.doc_id, i.start) = c.canon
              THEN 1 ELSE 0 END AS isc
  FROM isl2 i JOIN canon c USING (gram)
),
spans AS (
  SELECT doc_id, island, MIN(start) AS s0,
         MAX(start) + {_DSC_L - 1} AS e0, MAX(isc) AS kept
  FROM m GROUP BY doc_id, island
),
del AS (SELECT doc_id, s0, e0 FROM spans WHERE kept = 0),
iv AS (
  SELECT doc_id, list({{'s0': s0, 'e0': e0}}) AS iv
  FROM del GROUP BY doc_id
),
fin AS (
  SELECT s2.doc_id, s2.lang, s2.source,
         string_split(s2.text, ' ') AS words, iv.iv AS iv
  FROM s2 LEFT JOIN iv ON s2.doc_id = iv.doc_id
),
s2b AS MATERIALIZED (
  SELECT doc_id, lang, source,
         -- COALESCE: DuckDB's array_to_string([]) is NULL where
         -- Spark's array_join([]) is '' (fully-stripped docs); iv
         -- non-NULL implies words non-NULL, so '' is the only case
         CASE WHEN iv IS NULL THEN array_to_string(words, ' ')
              ELSE COALESCE(array_to_string(list_filter(words, (x, i) ->
                NOT len(list_filter(iv,
                  s -> i - 1 >= s.s0 AND i - 1 <= s.e0)) > 0), ' '), '')
         END AS text
  FROM fin
),
mh AS (
  SELECT doc_a, doc_b FROM ({_minhash_sql(source="s2b")})
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM mh
  UNION
  SELECT doc_b AS s, doc_a AS d FROM mh
),
reach(node, r) AS (
  SELECT s, s FROM (SELECT DISTINCT s FROM edges)
  UNION
  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node
),
comp AS (
  SELECT node AS doc_id, MIN(r) AS representative FROM reach GROUP BY node
),
s3 AS (
  SELECT s2b.* FROM s2b
  WHERE doc_id NOT IN (
    SELECT doc_id FROM comp WHERE doc_id <> representative
  )
),
counts AS (
  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n_s FROM s3 GROUP BY lang
),
fracs AS (
  SELECT lang,
         LEAST(1.0,
               0.5 * SUM(n_s) OVER () * pow(n_s, -0.5)
               / SUM(pow(n_s, 0.5)) OVER ()) AS keep_frac
  FROM counts
),
s4 AS (
  SELECT s3.* FROM s3 JOIN fracs USING (lang)
  WHERE keep_frac >= 1.0
     OR substr(md5('tmix|' || CAST(s3.doc_id AS VARCHAR)), 1, 8)
        < printf('%08x', LEAST(CAST(FLOOR(keep_frac * 4294967296.0) AS BIGINT), 4294967295))
),
toks AS (
  SELECT doc_id, source, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM s4
),
packed AS (
  SELECT doc_id, source, lang, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM toks
)
SELECT doc_id, source, lang, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_offset,
       CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS bin_id
FROM packed
"""


def _training_corpus_sql() -> str:
    from bolson_spark.queries_train import O_GOPHER_QUALITY

    return f"""
WITH kept_q AS (
  SELECT doc_id FROM ({O_GOPHER_QUALITY}) WHERE keep
),
dec AS (
  SELECT doc_id FROM ({O_DECONTAMINATE}) WHERE NOT contaminated
),
s2 AS (
  SELECT d.* FROM documents d
  JOIN kept_q USING (doc_id)
  JOIN dec USING (doc_id)
  WHERE d.doc_id % 17 <> 0
),
reps AS (
  SELECT MIN(doc_id) AS doc_id FROM s2 GROUP BY md5(text)
),
s3 AS (
  SELECT s2.* FROM s2 JOIN reps USING (doc_id)
),
counts AS (
  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n_s FROM s3 GROUP BY lang
),
fracs AS (
  SELECT lang,
         LEAST(1.0,
               0.5 * SUM(n_s) OVER () * pow(n_s, -0.5)
               / SUM(pow(n_s, 0.5)) OVER ()) AS keep_frac
  FROM counts
),
s4 AS (
  SELECT s3.* FROM s3 JOIN fracs USING (lang)
  WHERE keep_frac >= 1.0
     OR substr(md5('tmix|' || CAST(s3.doc_id AS VARCHAR)), 1, 8)
        < printf('%08x', LEAST(CAST(FLOOR(keep_frac * 4294967296.0) AS BIGINT), 4294967295))
),
toks AS (
  SELECT doc_id, source, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM s4
),
packed AS (
  SELECT doc_id, source, lang, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM toks
)
SELECT doc_id, source, lang, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_offset,
       CAST(FLOOR((cum - n_tokens) / 2048.0) AS BIGINT) AS bin_id
FROM packed
"""


CORPUS_QUERIES: dict[str, QuerySpec] = {
    "decontaminate": QuerySpec(
        q_decontaminate, O_DECONTAMINATE, ("text", "dedup", "pipeline")
    ),
    "dup_ngram_fraction": QuerySpec(
        q_dup_ngram_fraction, O_DUP_NGRAM_FRACTION, ("text", "quality")
    ),
    "dup_span_coverage": QuerySpec(
        q_dup_span_coverage, O_DUP_SPAN_COVERAGE, ("text", "dedup")
    ),
    "strip_dup_spans": QuerySpec(
        q_strip_dup_spans, O_STRIP_DUP_SPANS, ("text", "dedup")
    ),
    "pack_sequences": QuerySpec(
        q_pack_sequences, O_PACK_SEQUENCES, ("text", "pipeline")
    ),
    "incremental_ingest": QuerySpec(
        q_incremental_ingest, O_INCREMENTAL_INGEST, ("dedup", "pipeline")
    ),
    "kmv_distinct": QuerySpec(
        q_kmv_distinct, O_KMV_DISTINCT, ("sketch", "aggregation")
    ),
    "source_overlap_kmv": QuerySpec(
        q_source_overlap_kmv, O_SOURCE_OVERLAP_KMV, ("sketch", "dedup")
    ),
    "weighted_sample": QuerySpec(
        q_weighted_sample, O_WEIGHTED_SAMPLE, ("sketch", "pipeline")
    ),
    "zorder_layout": QuerySpec(
        q_zorder_layout, O_ZORDER_LAYOUT, ("layout", "pipeline")
    ),
    "bm25_search": QuerySpec(
        q_bm25_search, O_BM25_SEARCH, ("text", "retrieval")
    ),
    "hybrid_search": QuerySpec(
        q_hybrid_search, _hybrid_sql(), ("text", "retrieval", "similarity")
    ),
    "dedup_report": QuerySpec(
        q_dedup_report, O_DEDUP_REPORT, ("dedup", "aggregation")
    ),
    "langid_confusion": QuerySpec(
        q_langid_confusion, _langid_confusion_sql(), ("text", "eval")
    ),
    "temperature_mix": QuerySpec(
        q_temperature_mix, O_TEMPERATURE_MIX, ("sketch", "pipeline")
    ),
    "training_corpus": QuerySpec(
        q_training_corpus, _training_corpus_sql(), ("text", "pipeline")
    ),
    "training_corpus_neardup": QuerySpec(
        q_training_corpus_neardup,
        _training_corpus_neardup_sql(),
        ("text", "pipeline", "dedup"),
    ),
    # "capped": CORRECTNESS runs at full SF like everything else, but
    # the bench times it at the capped (twin) SF — every stage of this
    # composition (strip_dup_spans, the neardup pipeline) is already
    # individually benched at SF_DIR, so a full-SF re-run would re-time
    # ~17 s of already-measured data paths (r8 VERDICT #8's cap option)
    "training_corpus_spandedup": QuerySpec(
        q_training_corpus_spandedup,
        _training_corpus_spandedup_sql(),
        ("text", "pipeline", "dedup", "capped"),
    ),
    "bpe_train": QuerySpec(
        q_bpe_train, _bpe_train_sql(), ("text", "pipeline")
    ),
    "conversion_funnel": QuerySpec(
        q_conversion_funnel, O_CONVERSION_FUNNEL, ("relational", "events")
    ),
    "dsir_selection": QuerySpec(
        q_dsir_selection, O_DSIR_SELECTION, ("quality", "text")
    ),
    "dsir_resample": QuerySpec(
        q_dsir_resample, _dsir_resample_sql("documents"), ("quality", "text")
    ),
    # capped: every stage (gopher_quality, dsir_resample,
    # pack_sequences) is individually benched at SF_DIR — re-timing
    # the composition there re-measures known paths (r8 VERDICT #8)
    "training_corpus_dsir": QuerySpec(
        q_training_corpus_dsir,
        _training_corpus_dsir_sql(),
        ("text", "pipeline", "quality", "capped"),
    ),
    "repetition_metrics": QuerySpec(
        q_repetition_metrics, _repetition_metrics_sql(), ("quality", "text")
    ),
    "quality_rule_matrix": QuerySpec(
        q_quality_rule_matrix, _quality_rule_matrix_sql(), ("quality",)
    ),
    "integrity_audit": QuerySpec(
        q_integrity_audit, O_INTEGRITY_AUDIT, ("quality", "relational")
    ),
    "hard_negatives": QuerySpec(
        q_hard_negatives, _hard_negatives_sql(), ("text", "retrieval")
    ),
    "fuzzy_match_names": QuerySpec(
        q_fuzzy_match_names, O_FUZZY_MATCH_NAMES, ("text", "entity")
    ),
    "length_drift": QuerySpec(
        q_length_drift, O_LENGTH_DRIFT, ("quality", "eval")
    ),
    "resample_locf": QuerySpec(
        q_resample_locf, O_RESAMPLE_LOCF, ("events", "timeseries")
    ),
    "resample_interp": QuerySpec(
        q_resample_interp, O_RESAMPLE_INTERP, ("events", "timeseries")
    ),
    "value_anomalies": QuerySpec(
        q_value_anomalies, O_VALUE_ANOMALIES, ("events", "timeseries", "eval")
    ),
    "retention_cohorts": QuerySpec(
        q_retention_cohorts, O_RETENTION_COHORTS, ("relational", "events")
    ),
}


# ---------------------------------------------------------------------------
# Round-3 passage hygiene + LM quality proxy
# ---------------------------------------------------------------------------


def q_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate strip (the C4/RefinedWeb line rule on
     5-word passages): chunks occurring in >2 distinct documents are
    removed; per-doc counts + cleaned-text digest under the hash gate."""
    from bolson_spark.functions.corpus import boilerplate_removal

    return boilerplate_removal(_t(spark, sf_dir, "documents"), w=5, max_df=2)


O_BOILERPLATE_CHUNKS = """
WITH words AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
chunks AS (
  SELECT doc_id, CAST(j AS INT) AS idx,
         array_to_string(ws[j*5+1 : j*5+5], ' ') AS chunk
  FROM words, UNNEST(range(0, CAST(ceil(len(ws)/5.0) AS BIGINT))) AS t(j)
  WHERE len(ws) > 0
),
freq AS (
  SELECT chunk FROM (
    SELECT chunk, COUNT(DISTINCT doc_id) AS df FROM chunks GROUP BY chunk
  ) WHERE df > 2
),
kept AS (
  SELECT c.doc_id, c.idx, c.chunk
  FROM chunks c LEFT JOIN freq f USING (chunk) WHERE f.chunk IS NULL
),
-- tot comes from WORDS, not chunks: zero-chunk docs (empty/blank/NULL
-- text) must keep their manifest row with n_chunks=0, mirroring the
-- Spark side's doc-list join-back
tot AS (
  SELECT doc_id,
         COALESCE(CAST(ceil(len(ws)/5.0) AS BIGINT), 0) AS n_chunks
  FROM words
),
keptagg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(chunk, ' ' ORDER BY idx) AS cleaned
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.n_chunks AS BIGINT) AS n_chunks,
       CAST(t.n_chunks - COALESCE(k.n_kept, 0) AS BIGINT) AS n_boilerplate,
       md5(COALESCE(k.cleaned, '')) AS cleaned_md5
FROM tot t LEFT JOIN keptagg k USING (doc_id)
"""


def q_intra_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-passage removal (first occurrence of
    each distinct 5-word chunk kept, document order preserved) — a
    pure narrow map, zero shuffles."""
    from bolson_spark.functions.corpus import intra_doc_dedup

    return intra_doc_dedup(_t(spark, sf_dir, "documents"), w=5)


O_INTRA_DOC_DEDUP = """
WITH words AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
chunks AS (
  SELECT doc_id, CAST(j AS INT) AS idx,
         array_to_string(ws[j*5+1 : j*5+5], ' ') AS chunk
  FROM words, UNNEST(range(0, CAST(ceil(len(ws)/5.0) AS BIGINT))) AS t(j)
  WHERE len(ws) > 0
),
firsts AS (
  SELECT doc_id, chunk, MIN(idx) AS first_idx
  FROM chunks GROUP BY doc_id, chunk
),
tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM chunks GROUP BY doc_id),
ded AS (
  SELECT doc_id, COUNT(*) AS n_distinct,
         md5(string_agg(chunk, ' ' ORDER BY first_idx)) AS cleaned_md5
  FROM firsts GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(t.n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(COALESCE(de.n_distinct, 0) AS BIGINT) AS n_distinct,
       round(CASE WHEN COALESCE(t.n_chunks, 0) > 0
                  THEN 1.0 - de.n_distinct / CAST(t.n_chunks AS DOUBLE)
                  ELSE 0.0 END, 6) AS dup_fraction,
       COALESCE(de.cleaned_md5, md5('')) AS cleaned_md5
FROM documents d
LEFT JOIN tot t USING (doc_id)
LEFT JOIN ded de USING (doc_id)
"""


def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM quality proxy: mean ln p(token) per
    document under a corpus-trained unigram model (decimal-exact
    order-independent summation for engine parity)."""
    from bolson_spark.functions.quality import unigram_lm_score

    return unigram_lm_score(_t(spark, sf_dir, "documents"))


O_LM_QUALITY = """
WITH toks AS (
  SELECT doc_id, t.tok
  FROM (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
    FROM documents
  ), UNNEST(ws) AS t(tok)
),
freqs AS (SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok),
total AS (SELECT SUM(freq) AS total FROM freqs),
lm AS (
  SELECT tok,
         CAST(round(ln(CAST(freq AS DOUBLE) / total), 6) AS DECIMAL(28,6)) AS logp
  FROM freqs, total
),
scored AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(logp) AS logp_sum
  FROM toks JOIN lm USING (tok) GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CAST(logp_sum AS DOUBLE) / n_tokens, 6) AS lm_score
FROM scored
"""


CORPUS_QUERIES.update(
    {
        "boilerplate_chunks": QuerySpec(
            q_boilerplate_chunks, O_BOILERPLATE_CHUNKS, ("text", "quality")
        ),
        "intra_doc_dedup": QuerySpec(
            q_intra_doc_dedup, O_INTRA_DOC_DEDUP, ("text", "dedup")
        ),
        "lm_quality": QuerySpec(
            q_lm_quality, O_LM_QUALITY, ("text", "quality")
        ),
    }
)


# ---------------------------------------------------------------------------
# Round-6 sketch/classifier additions: deterministic register HLL,
# count-min frequency estimation, hashed-feature linear scoring
# ---------------------------------------------------------------------------

def _doc_tokens(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    """(doc_id, source, token) stream: whitespace tokens, empties
    dropped — the one tokenization both sketch queries and their
    oracles share.

    ``spread=True`` round-robins the DOCUMENTS (pre-explode — the
    text crosses once, not per token) when the scan is under-split,
    for consumers whose per-token map is heavy enough to win from it
    (measured per consumer, r10: cm_frequency 1.75 -> 1.47 s warm
    [4 md5s/token before the cell groupBy]; hll_distinct a wash
    [1 md5, partial agg collapses to 64 buckets]; heavy_hitters
    WORSE 0.35 -> 0.49 s [plain count, the exchange is pure cost] —
    so the default stays unspread)."""
    docs = _t(spark, sf_dir, "documents")
    if spread:
        from bolson_spark.functions.dedup import _spread

        docs = _spread(docs)
    from bolson_spark.functions.text import explode_once

    return explode_once(
        docs,
        ["doc_id", "source"],
        F.filter(F.split(F.col("text"), " "), lambda x: x != ""),
        ["token"],
    )


# DuckDB fragment mirroring _doc_tokens
_TOKS = (
    "SELECT doc_id, source, "
    "UNNEST(list_filter(string_split(text, ' '), t -> t <> ''))"
    " AS token FROM documents"
)


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary size per source + merged-register union estimate —
    the cross-source cardinality audit a 100 TB pipeline runs per
    crawl. See functions/sketch.py::hll_union: constant 2^p-register
    memory, no distinct(), union by bucket-wise MAX without
    re-scanning. Parity analogue of the reference's stats surface
    (src/bolson/stream.cpp aggregates counts across converter threads
    the same merge-partials way)."""
    from bolson_spark.functions.sketch import hll_union

    return hll_union(
        _doc_tokens(spark, sf_dir), "token", "source", p=6
    ).orderBy("scope")


def _hll_sql() -> str:
    from bolson_spark.functions.sketch import _hll_alpha

    p = 6
    w_bits = 60 - p
    k = w_bits + 1
    m = 1 << p
    alpha_m2 = repr(_hll_alpha(p) * m * m)
    return f"""
WITH toks AS ({_TOKS}),
drawn AS (
  SELECT source,
         ('0x' || substr(md5('hll|' || token), 1, 15))::BIGINT AS v
  FROM toks
),
regs AS (
  SELECT source, v >> {w_bits} AS bucket,
         MAX(CASE WHEN (v % {1 << w_bits}) = 0 THEN {k}
             ELSE {k} - length(bin(v % {1 << w_bits})) END) AS rho
  FROM drawn GROUP BY source, bucket
),
allregs AS (
  SELECT source AS scope, bucket, rho FROM regs
  UNION ALL
  SELECT 'ALL', bucket, MAX(rho) FROM regs GROUP BY bucket
),
agg AS (
  SELECT scope, COUNT(*) AS occupied,
         SUM(1::BIGINT << ({k} - rho)) AS s_int
  FROM allregs GROUP BY scope
),
exact AS (
  SELECT source AS scope, COUNT(DISTINCT token) AS n_exact
  FROM toks GROUP BY source
  UNION ALL
  SELECT 'ALL', COUNT(DISTINCT token) FROM toks
)
SELECT e.scope, CAST(e.n_exact AS BIGINT) AS n_exact,
       CAST(a.occupied AS BIGINT) AS occupied,
       {alpha_m2} / (CAST(a.s_int + ({m} - a.occupied) * (1::BIGINT << {k})
                     AS DOUBLE) / {float(1 << k)!r}) AS hll_estimate
FROM exact e JOIN agg a USING (scope)
ORDER BY scope
"""


def q_cm_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimates for a deterministic probe
    vocabulary (tokens of every 97th document) against the FULL token
    stream — heavy-hitter monitoring with a d x w counter grid that
    never grows with the corpus. See functions/sketch.py::
    cm_sketch_freq for the merge/broadcast scale shape."""
    from bolson_spark.functions.sketch import cm_sketch_freq

    # spread=True: 4 md5s per token row before the cell groupBy — the
    # heaviest per-token map of the sketch family (measured win; see
    # _doc_tokens docstring)
    toks = _doc_tokens(spark, sf_dir, spread=True)
    probe = (
        toks.where(F.col("doc_id") % 97 == 0).select("token").distinct()
    )
    return cm_sketch_freq(
        toks.select("token"), probe, "token", d=4, w_cells=256
    )


O_CM_FREQUENCY = f"""
WITH toks AS ({_TOKS}),
probe AS (
  SELECT DISTINCT token FROM toks WHERE doc_id % 97 = 0
),
rj AS (SELECT UNNEST(range(4)) AS j),
cells AS (
  SELECT j,
         ('0x' || substr(md5('cm' || CAST(j AS VARCHAR) || '|' || token),
          1, 15))::BIGINT % 256 AS c,
         COUNT(*) AS cell_count
  FROM toks CROSS JOIN rj
  GROUP BY j, c
),
pc AS (
  SELECT token, j,
         ('0x' || substr(md5('cm' || CAST(j AS VARCHAR) || '|' || token),
          1, 15))::BIGINT % 256 AS c
  FROM probe CROSS JOIN rj
),
est AS (
  SELECT pc.token, MIN(COALESCE(cells.cell_count, 0)) AS cm_estimate
  FROM pc LEFT JOIN cells USING (j, c) GROUP BY pc.token
),
exact AS (
  SELECT token, COUNT(*) AS exact_count FROM toks
  WHERE token IN (SELECT token FROM probe) GROUP BY token
)
SELECT p.token, CAST(COALESCE(e.exact_count, 0) AS BIGINT) AS exact_count,
       CAST(est.cm_estimate AS BIGINT) AS cm_estimate
FROM probe p LEFT JOIN exact e USING (token) JOIN est USING (token)
"""


def q_hashed_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear classifier over every document as
    ONE narrow map (no explode, no join, no shuffle) — see
    functions/quality.py::hashed_linear_score."""
    from bolson_spark.functions.quality import hashed_linear_score

    return hashed_linear_score(
        _t(spark, sf_dir, "documents"), n_buckets=4096
    )


O_HASHED_QUALITY_SCORE = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(COALESCE(text, ''), ' '), x -> x <> '')
           AS toks
  FROM documents
),
m AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(COALESCE(list_sum(list_transform(toks, x ->
           ('0x' || substr(md5('hlw|' || CAST(
               ('0x' || substr(md5('feat|' || x), 1, 15))::BIGINT % 4096
             AS VARCHAR)), 1, 15))::BIGINT % 17 - 8
         )), 0) AS BIGINT) AS margin
  FROM t
)
SELECT doc_id, n_tokens, margin,
       CASE WHEN n_tokens = 0 THEN 0.0
            ELSE CAST(margin AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       END AS score,
       margin > 0 AS keep
FROM m
"""


CORPUS_QUERIES.update(
    {
        "hll_distinct": QuerySpec(
            q_hll_distinct, _hll_sql(), ("sketch", "aggregation")
        ),
        "cm_frequency": QuerySpec(
            q_cm_frequency, O_CM_FREQUENCY, ("sketch", "text")
        ),
        "hashed_quality_score": QuerySpec(
            q_hashed_quality_score,
            O_HASHED_QUALITY_SCORE,
            ("quality", "text"),
        ),
    }
)


def q_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-40-per-language held-out sample — the quota companion
    of the fraction-based `stratified_sample`; see
    functions/sketch.py::group_sample_exact_n (two-stage salted
    bottom-k, nested-sample property)."""
    from bolson_spark.functions.sketch import group_sample_exact_n

    return group_sample_exact_n(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"),
        "lang",
        40,
    )


O_GROUP_SAMPLE = """
SELECT doc_id, lang, CAST(rnk AS BIGINT) AS sample_rank FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substr(md5('samp|' || CAST(doc_id AS VARCHAR)),
                     1, 15))::BIGINT, doc_id
         ) AS rnk
  FROM documents
) t WHERE rnk <= 40
"""


def q_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced 16-shard assignment over the corpus: round-robin
    in weight-descending order via the scalable sequence operator —
    per-shard token totals differ by at most one document. See
    functions/layout.py::token_balanced_shards."""
    from bolson_spark.functions.layout import token_balanced_shards

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    return token_balanced_shards(docs, 16)


O_BALANCED_SHARDS = """
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
s AS (
  SELECT doc_id, n_tokens,
         ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS pos
  FROM t
)
SELECT doc_id, n_tokens, CAST(pos % 16 AS BIGINT) AS shard FROM s
"""


CORPUS_QUERIES.update(
    {
        "group_sample": QuerySpec(
            q_group_sample, O_GROUP_SAMPLE, ("sketch", "pipeline")
        ),
        "balanced_shards": QuerySpec(
            q_balanced_shards, O_BALANCED_SHARDS, ("layout", "pipeline")
        ),
    }
)


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source p50/p95/p99 of document token counts via the
    deterministic histogram quantile sketch (frozen integer bounds,
    256 equal-width bins, merge = bin-wise add) with the exact disc
    quantile alongside — length-distribution monitoring a pipeline
    runs per crawl. See functions/sketch.py::hist_quantiles."""
    from bolson_spark.functions.sketch import hist_quantiles

    docs = _t(spark, sf_dir, "documents").select(
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("v"),
    )
    return hist_quantiles(docs, "v", "source", percents=(50, 95, 99))


O_HIST_QUANTILES = """
WITH t AS (
  SELECT source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS v
  FROM documents
  WHERE len(string_split(text, ' ')) IS NOT NULL
),
b AS (SELECT MIN(v) AS vmin, MAX(v) - MIN(v) + 1 AS span FROM t),
h AS (
  SELECT source,
         ((v - (SELECT vmin FROM b)) * 256) // (SELECT span FROM b)
           AS bucket,
         COUNT(*) AS cnt
  FROM t GROUP BY source, bucket
),
c AS (
  SELECT source, bucket,
         SUM(cnt) OVER (PARTITION BY source ORDER BY bucket) AS cum
  FROM h
),
s AS (SELECT source, COUNT(*) AS n FROM t GROUP BY source),
p AS (SELECT UNNEST([50, 95, 99]) AS pct),
tr AS (
  SELECT source, pct, n, (pct * n + 99) // 100 AS rank
  FROM s CROSS JOIN p
),
e AS (
  SELECT tr.source, pct, n, rank, MIN(bucket) AS bucket
  FROM tr JOIN c ON c.source = tr.source AND c.cum >= tr.rank
  GROUP BY tr.source, pct, n, rank
),
r AS (
  SELECT source, v,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY v) AS rn
  FROM t
),
x AS (
  SELECT tr.source, pct, v AS exact
  FROM tr JOIN r ON r.source = tr.source AND r.rn = tr.rank
)
SELECT e.source, CAST(e.pct AS BIGINT) AS pct, CAST(e.n AS BIGINT) AS n,
       CAST((SELECT vmin FROM b)
            + (((e.bucket + 1) * (SELECT span FROM b) + 255) // 256) - 1
            AS BIGINT) AS est,
       CAST(x.exact AS BIGINT) AS exact
FROM e JOIN x ON x.source = e.source AND x.pct = e.pct
"""


CORPUS_QUERIES.update(
    {
        "hist_quantiles": QuerySpec(
            q_hist_quantiles, O_HIST_QUANTILES, ("sketch", "quality")
        ),
    }
)


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All tokens covering >= 1/500 of the corpus token stream —
    EXACT. mode="auto" (round 7) routes by a sampled distinct-count
    estimate: at testdata scale that is the naive groupBy plan; the
    two-pass candidate plan (per-partition local counting emits a
    guaranteed candidate SUPERSET by the averaging argument, then a
    broadcast semi-join + aggregation over candidates only — the Zipf
    tail never shuffles) is driver-checked by the forced
    `heavy_hitters_twopass` twin against the SAME oracle."""
    from bolson_spark.functions.sketch import heavy_hitters

    toks = _doc_tokens(spark, sf_dir).select("token")
    return heavy_hitters(toks, "token", num=1, denom=500)


def q_heavy_hitters_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forced two-pass route of `heavy_hitters` — kept as a
    registry twin so the candidate-superset plan (the 100 TB path the
    auto-route would pick on a trillion-token vocabulary) retains its
    own driver CORRECTNESS row now that mode="auto" picks naive at
    testdata scale. Same oracle; both routes are exact by
    construction (cross-mode equality also pytest-asserted)."""
    from bolson_spark.functions.sketch import heavy_hitters

    toks = _doc_tokens(spark, sf_dir).select("token")
    return heavy_hitters(toks, "token", num=1, denom=500, mode="twopass")


O_HEAVY_HITTERS = f"""
WITH toks AS ({_TOKS}),
tot AS (SELECT COUNT(*) AS n FROM toks)
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST((SELECT n FROM tot) AS BIGINT) AS n_total
FROM toks GROUP BY token
HAVING COUNT(*) * 500 >= (SELECT n FROM tot)
ORDER BY cnt DESC, token
"""


CORPUS_QUERIES.update(
    {
        "heavy_hitters": QuerySpec(
            q_heavy_hitters, O_HEAVY_HITTERS, ("sketch", "text")
        ),
        "heavy_hitters_twopass": QuerySpec(
            q_heavy_hitters_twopass, O_HEAVY_HITTERS,
            ("sketch", "text", "twin"),
        ),
    }
)


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token collocations by PMI ratio
    (functions/text.py::pmi_collocations): the multi-word-expression
    miner run before tokenizer training. The ratio form keeps every
    score a pinned sequence of IEEE ops over integer counts (no ln()),
    so the oracle hash-matches bit-for-bit; min_pair=5 prunes the
    hapax-bigram Zipf tail before any join."""
    from bolson_spark.functions.text import pmi_collocations

    return pmi_collocations(_t(spark, sf_dir, "documents"))


O_PMI_COLLOCATIONS = """
WITH toks AS (
  SELECT string_split(text, ' ') AS ws FROM documents
),
uni AS (
  SELECT w, COUNT(*) AS n_uni
  FROM (SELECT UNNEST(ws) AS w FROM toks) GROUP BY w
),
pairs_all AS (
  SELECT p.w1, p.w2, COUNT(*) AS n_pair FROM (
    SELECT UNNEST(list_transform(
             range(1, len(ws)),
             i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
    FROM toks
  )
  GROUP BY p.w1, p.w2
),
pairs AS (
  SELECT * FROM pairs_all WHERE n_pair >= 5
),
totals AS (
  -- COUNT(ws), not COUNT(*): NULL-text docs tokenize to NULL (0
  -- tokens, 0 pairs) and must not count toward the N - n_docs
  -- telescoping, mirroring the Spark side's F.count("ws")
  SELECT CAST((SELECT SUM(n_uni) FROM uni) AS DOUBLE) AS n_total,
         CAST((SELECT SUM(n_uni) FROM uni)
              - (SELECT COUNT(ws) FROM toks) AS DOUBLE) AS m_total
)
SELECT p.w1, p.w2, CAST(p.n_pair AS BIGINT) AS n_pair,
       ROUND(CAST(p.n_pair AS DOUBLE) * t.n_total / t.m_total
             / CAST(u1.n_uni AS DOUBLE) * t.n_total
             / CAST(u2.n_uni AS DOUBLE), 6) AS pmi_ratio
FROM pairs p
JOIN uni u1 ON u1.w = p.w1
JOIN uni u2 ON u2.w = p.w2
CROSS JOIN totals t
ORDER BY pmi_ratio DESC, p.w1, p.w2
LIMIT 20
"""


CORPUS_QUERIES.update(
    {
        "pmi_collocations": QuerySpec(
            q_pmi_collocations, O_PMI_COLLOCATIONS, ("text",)
        ),
    }
)
