"""Driver-contract query registry: Spark implementation + DuckDB oracle SQL.

Each entry implements one operator family from SURVEY.md §2 over the
driver-provided parquet tables. Dedup-pipeline operators run over a
``turns`` table derived *identically* in Spark and in the oracle SQL
from ``documents`` (one conversation per document, 20-token turns), so
the pipeline stages are oracle-checkable end to end.

Determinism rules (driver compares row count + schema + value hash):
* every float column is round()ed the same way on both sides;
* money math uses DECIMAL so sums are order-independent and exact;
* no raw timestamps in outputs (epoch seconds instead);
* identical column names via explicit aliases.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

CHUNK = 20  # tokens per derived turn
K = 17      # char-shingle size (parity with reference kmer_size, dedup.py:542)

# ---------------------------------------------------------------- helpers

def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# Session-scoped memo of localCheckpoint()ed shared subplans.
#
# The driver (and bench.py) runs many queries back-to-back in ONE
# session, and several queries compose the same expensive chain
# (transcripts → shingle UDF → DF join → signature UDF; suffix keys →
# anchors → chains → position classes). Without this, every composed
# query — and every SELF-JOIN inside one query — re-executes the whole
# chain from parquet: measured as a 2× wall regression in round 2
# (minhash_lsh_candidates alone re-ran its signature-UDF upstream 3×).
#
# ``localCheckpoint(eager=True)`` materializes the subplan into executor
# block storage (memory, disk-spill) and truncates lineage, so each
# shared subplan is computed exactly once per (session, sf_dir). This is
# the driver-query analog of the pipeline's StageCatalog checkpoints
# (which already made the pipeline path immune).
#
# Staleness contract: entries live for the session, so the parquet under
# ``sf_dir`` must be IMMUTABLE while the session runs (true for the
# driver's read-only testdata). As a cheap guard, the directory's
# max-mtime is snapshotted on first use; a later call that observes a
# changed mtime fails loudly instead of serving stale checkpoints.
_SHARED: dict[tuple, DataFrame] = {}
_SHARED_MTIME: dict[tuple, float] = {}


def _sf_dir_mtime(sf_dir: str) -> float:
    import os

    try:
        entries = [os.path.join(sf_dir, e) for e in os.listdir(sf_dir)]
        return max((os.path.getmtime(p) for p in entries), default=0.0)
    except OSError:
        return 0.0  # non-local path (hdfs/s3) — contract is docs-only there


def _shared(spark: SparkSession, sf_dir: str, key: str, build) -> DataFrame:
    mk = (spark, sf_dir, key)
    smk = (spark, sf_dir)
    seen = _SHARED_MTIME.get(smk)
    now = _sf_dir_mtime(sf_dir)
    if seen is None:
        _SHARED_MTIME[smk] = now
    elif now != seen:
        raise RuntimeError(
            f"testdata under {sf_dir} changed mid-session (mtime {seen} → "
            f"{now}); memoized subplans would be stale — restart the "
            "session (sf_dir must be immutable for a session's lifetime)"
        )
    df = _SHARED.get(mk)
    if df is None:
        from dedup_spark.util import eager_ckpt

        df = eager_ckpt(build())
        _SHARED[mk] = df
    return df


def derive_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → turns(conv_id, turn_idx, text): 20-token chunks.

    The Spark half of the shared derivation; ``TURNS_SQL`` is the DuckDB
    half. Both must stay in lockstep.
    """
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("doc_id").cast("string").alias("conv_id"),
            F.split("text", " ").alias("t"),
        )
        .select(
            "conv_id",
            "t",
            F.explode(
                F.sequence(
                    F.lit(0), (F.ceil(F.size("t") / CHUNK)).cast("int") - F.lit(1)
                )
            ).alias("g"),
        )
        .select(
            "conv_id",
            F.col("g").alias("turn_idx"),
            F.concat_ws(" ", F.expr(f"slice(t, g*{CHUNK}+1, {CHUNK})")).alias("text"),
        )
    )


TURNS_SQL = f"""
turns AS (
  SELECT cast(doc_id AS varchar) AS conv_id,
         cast(u.g AS int) AS turn_idx,
         array_to_string(t[(u.g*{CHUNK}+1):((u.g+1)*{CHUNK})], ' ') AS text
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) toks,
       unnest(range(cast(ceil(len(t)/{CHUNK}.0) AS bigint))) AS u(g)
)
"""

TRANSCRIPTS_SQL = f"""
{TURNS_SQL},
transcripts AS (
  SELECT conv_id,
         string_agg(text, chr(10) ORDER BY turn_idx) AS doc,
         count(*) AS n_turns
  FROM turns GROUP BY conv_id
)
"""

# per-conv DISTINCT char-17 shingles of the assembled doc (strings, so
# both engines agree without sharing a hash function)
SHINGLES_SQL = (
    TRANSCRIPTS_SQL
    + f""",
conv_shingles AS (
  SELECT conv_id, unnest(list_distinct(list_transform(
           range(1, len(doc) - {K} + 2), i -> substr(doc, i, {K})))) AS shingle
  FROM transcripts WHERE len(doc) >= {K}
),
shingle_df AS (
  SELECT shingle, count(*) AS df FROM conv_shingles GROUP BY shingle
)
"""
)


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dedup_spark.operators.transcripts import assemble_transcripts

    return _shared(
        spark, sf_dir, "transcripts",
        lambda: assemble_transcripts(derive_turns(spark, sf_dir)),
    )


def _conv_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(conv_id, shingle) DISTINCT string shingles — A1 explode analog,
    memoized (``_shingle_df`` and ``conv_shingle_stats`` both consume it;
    each used to re-run the whole explode).

    Fast path: explode positions + BINARY substring fused in one
    whole-stage-codegen stage — the same plan shape as
    ``substring.suffix_keys`` and for the same reason: a per-row
    ``transform()`` materializes a doc_len-sized array of 17-char string
    objects per document first (GC churn measured as the dominant cost
    of this family). Byte slicing is only char-correct on pure-ASCII
    docs, so non-ASCII docs take the char-space transform path and the
    union preserves exact oracle semantics (DuckDB ``substr`` is
    char-based). The per-conv DISTINCT lands in ``dropDuplicates``,
    whose map-side partial aggregation removes same-doc repeats before
    the shuffle."""

    def build():
        t = _transcripts(spark, sf_dir).filter(F.length("doc") >= K)
        is_ascii = F.length("doc") == F.octet_length("doc")
        fast = (
            t.filter(is_ascii)
            .select("conv_id", F.encode("doc", "UTF-8").alias("b"))
            .select(
                "conv_id",
                "b",
                F.explode(F.sequence(F.lit(1), F.length("b") - K + 1)).alias("pos"),
            )
            .select(
                "conv_id",
                F.expr(f"decode(substring(b, pos, {K}), 'UTF-8')").alias("shingle"),
            )
        )
        slow = t.filter(~is_ascii).select(
            "conv_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, length(doc) - {K} + 1), i -> substr(doc, i, {K}))"
                    )
                )
            ).alias("shingle"),
        )
        return fast.unionByName(slow).dropDuplicates(["conv_id", "shingle"])

    return _shared(spark, sf_dir, "conv_shingles", build)


def _shingle_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # memoized: shingle_df / histogram / informative / conv_shingle_stats
    # all consume this groupBy; rows of _conv_shingles are distinct per
    # conv, so a plain count is the distinct-conversation df
    return _shared(
        spark, sf_dir, "shingle_df",
        lambda: _conv_shingles(spark, sf_dir)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df")),
    )


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        docs = _read(spark, sf_dir, "documents")
        # tokens kept as xxhash64 longs: the exact verify only needs
        # SIZES of intersections, and long-array intersection beats
        # string-array intersection several-fold (hash equality ⇔ token
        # equality — a count-changing collision needs two distinct
        # tokens of one pair to collide, P < 1e-8 corpus-wide)
        return docs.select(
            "doc_id", "lang", "source",
            F.array_distinct(
                F.transform(F.split("text", " "), lambda t: F.xxhash64(t))
            ).alias("toks"),
        ).withColumn("n_toks", F.size("toks"))

    # memoized: scanned twice per verify self-join, reused by cc_clusters
    return _shared(spark, sf_dir, "doc_tokens", build)


def _verified_token_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set containment verify (U1/F6/X3, reference
    dedup.py:362-369 +1 denominators) over PREFIX-FILTERED candidates —
    no quadratic stage. The DuckDB oracle mirrors the semantics with a
    blocked self-join (fine at oracle sf); the Spark candidate stage is
    the size-stratified prefix filter (``operators/prefix_filter.py``,
    AllPairs/PPJoin family), which has **recall exactly 1.0 by
    construction** — equality with the exhaustive oracle is guaranteed
    on any corpus, including size-asymmetric containment pairs (small
    doc ⊂ large doc, J ≪ 0.1) where every MinHash banding scheme is
    probabilistic. This is the exact counterpart of the reference's
    size-partitioned ``MinHashLSHEnsemble`` index (dedup.py:333-345).
    Exact verification then recomputes
    common/jaccard/containment on the true token arrays with the
    identical expressions and rounding as the oracle SQL."""
    from dedup_spark.operators import prefix_filter

    d = _doc_tokens(spark, sf_dir)
    # memoized: cc_clusters re-traverses the same edges; the candidate
    # join is the expensive link in this chain
    cand = _shared(
        spark, sf_dir, "vt_prefix_cand",
        lambda: prefix_filter.candidate_pairs(d),
    )
    # pairs are same-block by construction, so the a-side attrs name the
    # block (no extra corpus-sized join needed)
    ta = d.select(F.col("doc_id").alias("doc_a"), "lang", "source",
                  F.col("toks").alias("toks_a"), F.col("n_toks").alias("n_a"))
    tb = d.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"),
                  F.col("n_toks").alias("n_b"))
    j = (
        cand.join(ta.hint("shuffle_hash"), "doc_a")
        .join(tb.hint("shuffle_hash"), "doc_b")
        .withColumn("common", F.size(F.array_intersect("toks_a", "toks_b")))
        .withColumn("containment_a", F.round(F.col("common") / (F.col("n_a") + 1), 6))
        .withColumn("containment_b", F.round(F.col("common") / (F.col("n_b") + 1), 6))
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6),
        )
    )
    return j.filter(
        (F.col("containment_a") > 0.2) | (F.col("containment_b") > 0.2)
    ).select("lang", "source", "doc_a", "doc_b", "common", "jaccard",
             "containment_a", "containment_b")


VERIFIED_PAIRS_SQL = """
doc_toks AS (
  SELECT doc_id, lang, source,
         list_distinct(string_split(text, ' ')) AS toks,
         len(list_distinct(string_split(text, ' '))) AS n_toks
  FROM documents
),
verified AS (
  SELECT a.lang, a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.toks, b.toks)) AS common,
         round(len(list_intersect(a.toks, b.toks))::double
               / (a.n_toks + b.n_toks - len(list_intersect(a.toks, b.toks))), 6) AS jaccard,
         round(len(list_intersect(a.toks, b.toks))::double / (a.n_toks + 1), 6) AS containment_a,
         round(len(list_intersect(a.toks, b.toks))::double / (b.n_toks + 1), 6) AS containment_b
  FROM doc_toks a JOIN doc_toks b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE round(len(list_intersect(a.toks, b.toks))::double / (a.n_toks + 1), 6) > 0.2
     OR round(len(list_intersect(a.toks, b.toks))::double / (b.n_toks + 1), 6) > 0.2
)
"""


# ---------------------------------------------------------------- registry

@dataclass
class QuerySpec:
    spark_fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None → rows-only check (non-SQL-expressible)


def _q_turns(spark, sf_dir):
    return derive_turns(spark, sf_dir)


def _q_transcripts(spark, sf_dir):
    return _transcripts(spark, sf_dir).select("conv_id", "doc", "n_turns", "doc_len")


def _q_shingle_df(spark, sf_dir):
    return _shingle_df(spark, sf_dir)


def _q_df_histogram(spark, sf_dir):
    return (
        _shingle_df(spark, sf_dir)
        .groupBy("df")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )


def _q_informative(spark, sf_dir):
    return _shingle_df(spark, sf_dir).filter(F.col("df").between(2, 4))


def _q_conv_shingle_stats(spark, sf_dir):
    """Per-conversation duplicated/non-duplicated shingle totals + the
    reference's epsilon-guarded ratio (A5 split + X3 epsilon,
    reference dedup.py:183-186,418-422)."""
    j = _conv_shingles(spark, sf_dir).join(_shingle_df(spark, sf_dir), "shingle")
    agg = j.groupBy("conv_id").agg(
        F.sum(F.when(F.col("df").between(2, 4), 1).otherwise(0)).alias(
            "n_dup_shingles"
        ),
        F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias(
            "n_non_dup_shingles"
        ),
    )
    return agg.select(
        "conv_id",
        "n_dup_shingles",
        "n_non_dup_shingles",
        F.round(
            F.col("n_dup_shingles")
            / (F.col("n_dup_shingles") + F.col("n_non_dup_shingles") + F.lit(1e-6)),
            6,
        ).alias("dup_fraction"),
    )


CONV_STATS_SQL = (
    "WITH "
    + SHINGLES_SQL
    + """,
per_conv AS (
  -- ::bigint casts: DuckDB types sum() as HUGEINT (int128), which the
  -- driver's hasher represents differently from Spark's bigint even when
  -- the values are equal — every green query casts its sums the same way
  SELECT c.conv_id,
         sum(CASE WHEN d.df BETWEEN 2 AND 4 THEN 1 ELSE 0 END)::bigint AS n_dup_shingles,
         sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)::bigint AS n_non_dup_shingles
  FROM conv_shingles c JOIN shingle_df d USING (shingle)
  GROUP BY c.conv_id
)
SELECT conv_id, n_dup_shingles, n_non_dup_shingles,
       round(n_dup_shingles / (n_dup_shingles + n_non_dup_shingles + 1e-6), 6)
         AS dup_fraction
FROM per_conv"""
)


def _q_exact_dedup(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _q_dup_groups(spark, sf_dir):
    return _q_exact_dedup(spark, sf_dir).filter(F.col("n_copies") > 1)


def _q_verified_pairs(spark, sf_dir):
    # memoized end-to-end: cc_clusters consumes the same verified edge
    # set right after this query in both bench and the correctness run
    return _shared(
        spark, sf_dir, "verified_pairs",
        lambda: _verified_token_pairs(spark, sf_dir),
    )


def _q_cc_clusters(spark, sf_dir):
    from dedup_spark.operators.connected_components import connected_components

    docs = _read(spark, sf_dir, "documents")
    # keep bigint ids end-to-end: min/least on strings would order
    # lexicographically ("100" < "99") and diverge from the numeric oracle
    nodes = docs.select(F.col("doc_id").alias("conv_id"))
    edges = _q_verified_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("conv_a"), F.col("doc_b").alias("conv_b")
    )
    out = connected_components(nodes, edges)
    return out.select(
        F.col("conv_id").alias("doc_id"), F.col("cluster_id").alias("cluster_id")
    )


def _q_sessionize(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = _read(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("epoch")
    )
    w = W.partitionBy("user_id").orderBy("epoch", "event_id")
    gap = F.col("epoch") - F.lag("epoch").over(w)
    return (
        ev.withColumn("is_new", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("session_id", F.sum("is_new").over(
            W.partitionBy("user_id").orderBy("epoch", "event_id")
            .rowsBetween(W.unboundedPreceding, 0)))
        .select("user_id", "event_id", "session_id")
    )


SESSIONIZE_SQL = """
sess AS (
  SELECT user_id, event_id, floor(epoch(ts))::bigint AS ep,
         CASE WHEN floor(epoch(ts))::bigint - lag(floor(epoch(ts))::bigint)
              OVER (PARTITION BY user_id ORDER BY floor(epoch(ts))::bigint, event_id) > 1800
              OR lag(floor(epoch(ts))::bigint) OVER (PARTITION BY user_id ORDER BY floor(epoch(ts))::bigint, event_id) IS NULL
         THEN 1 ELSE 0 END AS is_new
  FROM events
),
sessionized AS (
  SELECT user_id, event_id, ep,
         (sum(is_new) OVER (PARTITION BY user_id ORDER BY ep, event_id
                            ROWS UNBOUNDED PRECEDING))::bigint AS session_id
  FROM sess
)
"""


def _q_session_spans(spark, sf_dir):
    ev = _read(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.unix_timestamp("ts").alias("epoch")
    )
    s = _q_sessionize(spark, sf_dir).select("event_id", "session_id")
    return (
        ev.join(s, "event_id")
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("epoch").alias("start_epoch"),
            F.max("epoch").alias("end_epoch"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )
        .withColumn("sum_value", F.col("sum_value").cast("double"))
    )


def _q_topk_events(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = _read(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "value", "rn")
    )


def _q_token_stats(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    n_toks = F.size(F.split("text", " "))
    return docs.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")) / n_toks, 6
        ).alias("avg_token_len"),
    )


# BPE-ish pre-tokenization classes (letters run / digits run / single
# punctuation), the usual byte-pair-encoding pre-split shape — counted
# identically by Java regex (Spark) and RE2 (DuckDB) for these classes
_BPE_PAT = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _q_bpe_token_stats(spark, sf_dir):
    """Token counting, BPE-ish: whitespace tokens (the `token_stats`
    baseline) plus a regex pre-tokenizer count — the standard proxy for
    'how many BPE tokens will this doc cost' without shipping a
    tokenizer model. All-integer output for cross-engine hash parity."""
    docs = _read(spark, sf_dir, "documents")
    # pattern passed as a lit Column, NOT through an expr string — Spark
    # SQL string literals eat the backslash in '\s'
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), F.lit(0))
        ).alias("n_bpe_tokens"),
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
    )


BPE_TOKEN_SQL = (
    f"SELECT doc_id, len(regexp_extract_all(text, '{_BPE_PAT}')) AS n_bpe_tokens, "
    "len(string_split(text, ' ')) AS n_ws_tokens FROM documents"
)


_STOPWORDS = ("the", "a", "of", "and", "to", "data", "value")


def _q_quality_score(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stops = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    n = F.size(toks)
    # single int/int divisions only: composite float expressions double-
    # round differently across engines near .5 ulp boundaries
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        stops.alias("n_stopwords"),
        F.round(stops / n, 6).alias("stop_ratio"),
        F.round((stops + F.least(n, F.lit(100))) / (n + 200), 6).alias("quality"),
    )


_STOP_SQL_LIST = "['the','a','of','and','to','data','value']"

_LANG_MARKERS = {
    "en": ("the", "fast", "query"),
    "es": ("el", "la", "slow"),
    "de": ("der", "die", "merge"),
    "fr": ("le", "la", "join"),
    "zh": ("de", "shi", "hash"),
}


def _q_langid(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    cols = [F.col("doc_id")]
    for lang, markers in _LANG_MARKERS.items():
        cols.append(
            F.size(F.filter(toks, lambda t: t.isin(*markers))).alias(f"score_{lang}")
        )
    scored = docs.select(*cols)
    # deterministic argmax: highest score wins, ties keep the earlier
    # (alphabetical) language — mirrored exactly in the oracle SQL
    langs = sorted(_LANG_MARKERS)  # de en es fr zh
    pred = F.lit(langs[0])
    best = F.col(f"score_{langs[0]}")
    for lang in langs[1:]:
        cond = F.col(f"score_{lang}") > best
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
        best = F.when(cond, F.col(f"score_{lang}")).otherwise(best)
    return scored.withColumn("predicted_lang", pred)


def _q_fingerprint(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.md5(F.lower(F.col("text"))).alias("fingerprint")
    )


_WIN_K = 8   # winnowing k-gram width (chars)
_WIN_W = 4   # winnowing window: one fingerprint per w consecutive grams


def _q_winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-gram, slide a window
    of w consecutive gram hashes, keep the minimum of each window; the
    distinct chosen values are the document's fingerprint set. Guarantees
    any shared substring of length ≥ k + w − 1 contributes at least one
    common fingerprint, at ~2/(w+1) the density of full shingling.

    Value-checked cross-engine via the md5-32-bit gram hash (same trick
    as the kernel twins); windows are ROWS BETWEEN CURRENT AND w-1
    FOLLOWING in both engines, and the DISTINCT min VALUES make
    tie-handling immaterial. Grams are BYTE windows sliced from the
    binary encoding (char substring is O(pos) → O(doc²) per doc; see
    substring.suffix_keys), md5'd via their hex image so both engines
    hash the identical ASCII string (Spark hex() and DuckDB hex() are
    both uppercase)."""
    from pyspark.sql import Window as W

    docs = _read(spark, sf_dir, "documents")
    grams = (
        docs.filter(F.octet_length("text") >= _WIN_K)
        .select("doc_id", F.encode("text", "UTF-8").alias("b"))
        .select(
            "doc_id",
            "b",
            F.explode(
                F.sequence(F.lit(1), F.length("b") - _WIN_K + 1)
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.expr(
                f"cast(conv(substring(md5(hex(substring(b, pos, {_WIN_K}))), 1, 8), 16, 10) AS bigint)"
            ).alias("h"),
        )
    )
    win = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WIN_W - 1)
    return (
        grams.withColumn("fp", F.min("h").over(win))
        .select("doc_id", "fp")
        .dropDuplicates(["doc_id", "fp"])
    )


WINNOW_SQL = f"""
WITH grams AS (
  SELECT doc_id, u.i AS pos,
         ('0x' || substr(md5(substr(hex(encode(text)), 2 * cast(u.i AS int) - 1, {2 * _WIN_K})), 1, 8))::BIGINT AS h
  FROM documents, unnest(range(1, strlen(text) - {_WIN_K} + 2)) AS u(i)
  WHERE strlen(text) >= {_WIN_K}
)
SELECT DISTINCT doc_id,
       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS fp
FROM grams
"""


def _q_embedding_norms(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(vec, vec, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return emb.select("vec_id", "label", F.round(F.sqrt(dot), 4).alias("l2_norm"))


def _q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline (SURVEY operator class:
    similarity search). Query set = vec_id < 10; k = 3 (excluding self);
    deterministic ordering by (rounded sim desc, neighbor id asc)."""
    from pyspark.sql import Window as W

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v")
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    dot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    j = q.crossJoin(emb).filter(F.col("vec_id") != F.col("query_id"))
    sim = F.round(
        dot(F.col("qv"), F.col("v")) / (F.sqrt(dot(F.col("qv"), F.col("qv"))) * F.sqrt(dot(F.col("v"), F.col("v")))),
        4,
    )
    j = j.withColumn("sim", sim)
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "sim", "rank")
    )


def _q_tpch_pricing(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    dp = (F.col("l_extendedprice").cast("decimal(18,4)")
          * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.sum(dp).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_top_revenue_orders(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    rev = (F.col("l_extendedprice").cast("decimal(18,4)")
           * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")))
    agg = (
        li.groupBy("l_orderkey").agg(F.sum(rev).cast("double").alias("revenue"))
    )
    return (
        agg.join(orders, agg.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "l_orderkey", "c_name",
            F.round("revenue", 2).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(20)
    )


# --------------------------------------------------- substring pass queries
#
# The suffix-array substring operators (operators/substring.py,
# operators/intervals.py) over ``documents`` treated as one-doc
# transcripts. Everything is BYTE-indexed: Spark joins anchors on
# xxhash64 of the w-BYTE window of the UTF-8 encoding; the DuckDB oracle
# joins on the window's hex string (see _ANCHORS_SQL) — outputs agree
# because hex equality ⇔ byte equality ⇔ hash equality (64-bit
# collisions aside), so the custom kernels are oracle-checkable end to
# end, non-ASCII documents included.

_SUB_W = 25        # anchor width (suffix-prefix chars)
_SUB_CAP = 64      # occurrence cap per suffix key (skew guard)
_SUB_GAP = 100     # max chain gap (chars) — scaled-down max_gap parity knob
_SUB_MIN = 40      # min span chars reported


def _sub_cfg():
    from dedup_spark.config import DedupConfig

    return DedupConfig(
        anchor_w=_SUB_W, max_anchor_occ=_SUB_CAP, max_gap=_SUB_GAP,
        min_span_len=_SUB_MIN, end_buffer=_SUB_GAP, full_dup_threshold=0.9,
    )


def _doc_transcripts(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("conv_id"),
        F.col("text").alias("doc"),
        F.lit(1).cast("long").alias("n_turns"),
        F.length("text").cast("long").alias("doc_len"),
    )


def _sub_keys(spark, sf_dir):
    """Suffix-key explode (×doc_len), deliberately LAZY — the fused
    generator+xxhash64 projection is whole-stage-codegen over a small
    parquet scan, and re-running it per consumer measured CHEAPER than
    materializing 25M rows into block storage and re-reading them
    (checkpointing this explode was a 2-3× pessimization at sf0.1).
    What IS memoized is everything downstream that shrinks the data:
    the occurrence table and the anchor pairs."""
    from dedup_spark.operators import substring

    return substring.suffix_keys(_doc_transcripts(spark, sf_dir), _sub_cfg())


def _sub_key_occ(spark, sf_dir):
    from dedup_spark.operators import substring

    return _shared(
        spark, sf_dir, "sub_key_occ",
        lambda: substring.key_occurrence(_sub_keys(spark, sf_dir)),
    )


def _sub_anchors(spark, sf_dir):
    from dedup_spark.operators import substring

    return _shared(
        spark, sf_dir, "sub_anchors",
        lambda: substring.anchor_matches(
            _sub_keys(spark, sf_dir), _sub_cfg(),
            convs=_doc_transcripts(spark, sf_dir),
            key_occ=_sub_key_occ(spark, sf_dir),
        ),
    )


def _q_substring_anchors(spark, sf_dir):
    return _sub_anchors(spark, sf_dir).select(
        "conv_a", "conv_b",
        F.col("a_pos").cast("long").alias("a_pos"),
        F.col("b_pos").cast("long").alias("b_pos"),
    )


def _sub_chains(spark, sf_dir):
    """Chained spans (suffix keys → anchors → gap chaining), memoized:
    substring_spans / span_scores / substring_best_match / interval_marks
    all start from this chain — round 2 re-derived it per query."""
    from dedup_spark.operators import substring

    cfg = _sub_cfg()

    def build():
        return substring.simplify_spans(
            substring.chain_anchors(_sub_anchors(spark, sf_dir), cfg)
        )

    return _shared(spark, sf_dir, "sub_chains", build)


def _poscls17(spark, sf_dir):
    """Whole-doc k=17 position classes, memoized (consumed by the dnd
    moving average and by span scoring, and scanned twice per scoring
    pass — one side per span end)."""
    from dedup_spark.operators import scoring

    def build():
        # the window-key explode has two consumers (window_df and the
        # class join) but stays LAZY on purpose: re-running the fused
        # generator+hash projection per consumer measured cheaper than
        # checkpointing 25M rows (see _sub_keys). The aggregates that
        # SHRINK it (wdf17, and poscls itself) are what get memoized.
        wkeys = scoring.jvm_window_keys(_doc_transcripts(spark, sf_dir), K)
        wdf = _shared(
            spark, sf_dir, "wdf17", lambda: scoring.window_df(wkeys)
        )
        return scoring.position_classes(wkeys, wdf, 2, 4)

    return _shared(spark, sf_dir, "poscls17", build)


def _sub_spans_df(spark, sf_dir):
    spans = _sub_chains(spark, sf_dir)
    return spans.select(
        "conv_a", "conv_b",
        *[F.col(c).cast("long").alias(c)
          for c in ("a_start", "a_end", "b_start", "b_end", "n_anchors", "matched")],
    )


def _q_substring_spans(spark, sf_dir):
    return _sub_spans_df(spark, sf_dir)


def _scored_spans_df(spark, sf_dir):
    """Chained spans scored by dnd density (operators/scoring.py): the
    reference's length-weighted duplicated-kmer density + match bonus
    with coverage and positive-score predicates
    (alignment.py:256-282). Position classes come from JVM k=17 windows
    so the DuckDB oracle can mirror them as string grams. Memoized —
    span_scores / substring_best_match / interval_marks share it."""
    from dedup_spark.operators import scoring

    return _shared(
        spark, sf_dir, "scored_spans",
        lambda: scoring.score_spans(
            _sub_chains(spark, sf_dir), _poscls17(spark, sf_dir), _sub_cfg()
        ),
    )


def _q_span_scores(spark, sf_dir):
    s = _scored_spans_df(spark, sf_dir)
    return s.select(
        "conv_a", "conv_b",
        *[F.col(c).cast("long").alias(c)
          for c in ("a_start", "a_end", "b_start", "b_end", "matched")],
        F.round("dnd_a", 4).alias("dnd_a"),
        F.round("dnd_b", 4).alias("dnd_b"),
        F.round("score", 4).alias("score"),
    )


def _q_dnd_moving_average(spark, sf_dir):
    """Non-overlapping window mean of the per-position dnd classes —
    the A10 moving-average analog (reference contig.py:88-100, window
    mean of dnd_ratio for the per-contig plots), window = 100 positions."""
    poscls = _poscls17(spark, sf_dir)
    return (
        poscls.groupBy(
            F.col("conv_id").alias("doc_id"),
            F.floor((F.col("pos") - 1) / 100).cast("long").alias("win_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_positions"),
            F.round(F.sum("cls") / F.count(F.lit(1)), 6).alias("mean_dnd"),
        )
    )


def _q_substring_best(spark, sf_dir):
    from dedup_spark.operators import substring

    return substring.best_substring_match(_scored_spans_df(spark, sf_dir)).select(
        "conv_a", "conv_b",
        *[F.col(c).cast("long").alias(c)
          for c in ("a_start", "a_end", "b_start", "b_end", "n_anchors", "matched")],
    )


def _q_interval_marks(spark, sf_dir):
    from dedup_spark.operators import intervals, substring

    best = substring.best_substring_match(_scored_spans_df(spark, sf_dir))
    marks = intervals.decide_intervals(best, _doc_transcripts(spark, sf_dir), _sub_cfg())
    return marks.select(
        F.col("conv_id").alias("doc_id"),
        F.col("start").cast("long").alias("start"),
        F.col("end").cast("long").alias("end"),
        "kind",
    )


_ANCHORS_SQL = f"""
-- BYTE-space gram mirror: byte p of the UTF-8 encoding occupies hex
-- chars [2p-1, 2p] of hex(encode(text)), so substr(hx, 2*i-1, 2*w) is
-- the w-byte window at byte offset i — the exact mirror of the Spark
-- side's xxhash64(substring(binary, i, w)) join key (hex-string
-- equality ⇔ byte equality ⇔ hash equality). strlen() is the BYTE
-- length in DuckDB. Non-ASCII docs participate fully on both sides
-- (the round-3 char==byte exclusion gate is gone).
docs_hex AS (
  SELECT doc_id, hex(encode(text)) AS hx, strlen(text) AS bl FROM documents
),
grams AS (
  SELECT doc_id AS conv_id, u.i AS pos,
         substr(hx, 2 * cast(u.i AS int) - 1, {2 * _SUB_W}) AS g
  FROM docs_hex, unnest(range(1, bl - {_SUB_W} + 2)) AS u(i)
  WHERE bl >= {_SUB_W}
),
ok AS (
  SELECT g FROM grams GROUP BY g HAVING count(*) > 1 AND count(*) <= {_SUB_CAP}
),
anchors AS (
  SELECT x.conv_id AS conv_a, y.conv_id AS conv_b, x.pos AS a_pos, y.pos AS b_pos
  FROM grams x JOIN ok USING (g) JOIN grams y USING (g)
  WHERE x.conv_id < y.conv_id
)
"""

_SPANS_SQL = (
    _ANCHORS_SQL
    + f""",
flagged AS (
  SELECT *, CASE WHEN lag(a_pos) OVER w IS NULL
                   OR a_pos - lag(a_pos) OVER w > {_SUB_GAP}
                   OR b_pos <= lag(b_pos) OVER w
                   OR b_pos - lag(b_pos) OVER w > {_SUB_GAP}
            THEN 1 ELSE 0 END AS new_chain
  FROM anchors
  WINDOW w AS (PARTITION BY conv_a, conv_b ORDER BY a_pos, b_pos)
),
chains AS (
  SELECT *, sum(new_chain) OVER (PARTITION BY conv_a, conv_b ORDER BY a_pos, b_pos
                                 ROWS UNBOUNDED PRECEDING) AS chain_id
  FROM flagged
),
spans_raw AS (
  SELECT conv_a, conv_b, chain_id,
         min(a_pos) AS a_start, max(a_pos) + {_SUB_W - 1} AS a_end,
         min(b_pos) AS b_start, max(b_pos) + {_SUB_W - 1} AS b_end,
         count(*) AS n_anchors,
         least(max(a_pos) + {_SUB_W - 1} - min(a_pos) + 1,
               (count(*) - 1) + {_SUB_W}) AS matched
  FROM chains GROUP BY conv_a, conv_b, chain_id
  HAVING least(max(a_pos) + {_SUB_W - 1} - min(a_pos) + 1,
               (count(*) - 1) + {_SUB_W}) >= {_SUB_MIN}
),
-- PAF-simplify containment prune (alignment.py:374-396, J7): drop a
-- span contained on BOTH axes in another span of the same pair;
-- exact duplicates keep the lowest chain_id
spans AS (
  SELECT * FROM spans_raw s WHERE NOT EXISTS (
    SELECT 1 FROM spans_raw t
    WHERE t.conv_a = s.conv_a AND t.conv_b = s.conv_b
      AND s.a_start >= t.a_start AND s.a_end <= t.a_end
      AND s.b_start >= t.b_start AND s.b_end <= t.b_end
      AND ((t.a_start, t.a_end, t.b_start, t.b_end)
             <> (s.a_start, s.a_end, s.b_start, s.b_end)
           OR t.chain_id < s.chain_id)
  )
)
"""
)

# scored spans: the dnd-density scoring chain mirrored in SQL. Window
# classification uses k=17 string grams (the Spark side hashes the same
# windows with xxhash64 — hash equality ⇔ string equality). Float
# parity notes: every double literal is ::double (a bare 0.2 is DECIMAL
# in DuckDB and would change the arithmetic), and the expression trees
# mirror the Spark side exactly so IEEE results are bit-identical.
_SPANSK_SQL = (
    _ANCHORS_SQL
    + f""",
flagged AS (
  SELECT *, CASE WHEN lag(a_pos) OVER w IS NULL
                   OR a_pos - lag(a_pos) OVER w > {_SUB_GAP}
                   OR b_pos <= lag(b_pos) OVER w
                   OR b_pos - lag(b_pos) OVER w > {_SUB_GAP}
            THEN 1 ELSE 0 END AS new_chain
  FROM anchors
  WINDOW w AS (PARTITION BY conv_a, conv_b ORDER BY a_pos, b_pos)
),
chains AS (
  SELECT *, sum(new_chain) OVER (PARTITION BY conv_a, conv_b ORDER BY a_pos, b_pos
                                 ROWS UNBOUNDED PRECEDING) AS chain_id
  FROM flagged
),
spans_k_raw AS (
  SELECT conv_a, conv_b, chain_id,
         min(a_pos) AS a_start, max(a_pos) + {_SUB_W - 1} AS a_end,
         min(b_pos) AS b_start, max(b_pos) + {_SUB_W - 1} AS b_end,
         count(*) AS n_anchors,
         least(max(a_pos) + {_SUB_W - 1} - min(a_pos) + 1,
               (count(*) - 1) + {_SUB_W}) AS matched
  FROM chains GROUP BY conv_a, conv_b, chain_id
  HAVING least(max(a_pos) + {_SUB_W - 1} - min(a_pos) + 1,
               (count(*) - 1) + {_SUB_W}) >= {_SUB_MIN}
),
-- PAF-simplify containment prune (alignment.py:374-396, J7)
spans_k AS (
  SELECT * FROM spans_k_raw s WHERE NOT EXISTS (
    SELECT 1 FROM spans_k_raw t
    WHERE t.conv_a = s.conv_a AND t.conv_b = s.conv_b
      AND s.a_start >= t.a_start AND s.a_end <= t.a_end
      AND s.b_start >= t.b_start AND s.b_end <= t.b_end
      AND ((t.a_start, t.a_end, t.b_start, t.b_end)
             <> (s.a_start, s.a_end, s.b_start, s.b_end)
           OR t.chain_id < s.chain_id)
  )
)
"""
)

_POSCLS_SQL = f"""
-- byte-space 17-byte windows via the same hex mirror as _ANCHORS_SQL
-- (distinct CTE name: _SCORED_SQL concatenates both fragments)
docs_hex17 AS (
  SELECT doc_id, hex(encode(text)) AS hx, strlen(text) AS bl FROM documents
),
grams17 AS (
  SELECT doc_id AS conv_id, u.i AS pos,
         substr(hx, 2 * cast(u.i AS int) - 1, {2 * K}) AS g
  FROM docs_hex17, unnest(range(1, bl - {K} + 2)) AS u(i)
  WHERE bl >= {K}
),
gdf AS (SELECT g, count(DISTINCT conv_id) AS df FROM grams17 GROUP BY g),
poscls AS (
  SELECT conv_id, pos,
         CASE WHEN df BETWEEN 2 AND 4 THEN 1 WHEN df = 1 THEN -1 END AS cls
  FROM grams17 JOIN gdf USING (g)
  WHERE df BETWEEN 2 AND 4 OR df = 1
)
"""

_SCORED_SQL = (
    _SPANSK_SQL
    + ","
    + _POSCLS_SQL
    + """,
astats AS (
  SELECT s.conv_a, s.conv_b, s.chain_id,
         sum(p.cls) AS dnd_sum_a, count(*) AS dnd_n_a
  FROM spans_k s JOIN poscls p
    ON p.conv_id = s.conv_a AND p.pos BETWEEN s.a_start AND s.a_end
  GROUP BY s.conv_a, s.conv_b, s.chain_id
),
bstats AS (
  SELECT s.conv_a, s.conv_b, s.chain_id,
         sum(p.cls) AS dnd_sum_b, count(*) AS dnd_n_b
  FROM spans_k s JOIN poscls p
    ON p.conv_id = s.conv_b AND p.pos BETWEEN s.b_start AND s.b_end
  GROUP BY s.conv_a, s.conv_b, s.chain_id
),
densities AS (
  SELECT s.*,
    CASE WHEN a.dnd_n_a IS NOT NULL AND a.dnd_n_a > 0
         THEN (s.a_end - s.a_start + 1) * (a.dnd_sum_a::double / a.dnd_n_a)
         ELSE 0.0::double END AS dnd_a,
    CASE WHEN b.dnd_n_b IS NOT NULL AND b.dnd_n_b > 0
         THEN (s.b_end - s.b_start + 1) * (b.dnd_sum_b::double / b.dnd_n_b)
         ELSE 0.0::double END AS dnd_b
  FROM spans_k s
  LEFT JOIN astats a ON s.conv_a = a.conv_a AND s.conv_b = a.conv_b AND s.chain_id = a.chain_id
  LEFT JOIN bstats b ON s.conv_a = b.conv_a AND s.conv_b = b.conv_b AND s.chain_id = b.chain_id
),
scored AS (
  SELECT *, (dnd_a + dnd_b) + 0.2::double * matched AS score
  FROM densities
  WHERE dnd_a >= 0.2::double * (a_end - a_start + 1)
    AND dnd_b >= 0.2::double * (b_end - b_start + 1)
    AND (dnd_a + dnd_b) + 0.2::double * matched > 0
)
"""
)

_BEST_SQL = (
    _SCORED_SQL
    + """,
best AS (
  SELECT conv_a, conv_b, a_start, a_end, b_start, b_end, n_anchors, matched
  FROM (
    SELECT *, row_number() OVER (PARTITION BY conv_a, conv_b
                ORDER BY score DESC, a_start ASC, b_start ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
"""
)

_MARKS_SQL = (
    _BEST_SQL
    + f""",
doclen AS (SELECT doc_id, strlen(text) AS dl FROM documents),  -- BYTE length
with_len AS (
  SELECT b.*, la.dl AS len_a, lb.dl AS len_b,
         (a_end - a_start + 1)::double / la.dl AS pct_a,
         (b_end - b_start + 1)::double / lb.dl AS pct_b
  FROM best b JOIN doclen la ON b.conv_a = la.doc_id
              JOIN doclen lb ON b.conv_b = lb.doc_id
),
marks AS (
  SELECT
    CASE WHEN pct_a > pct_b THEN
      CASE WHEN ma_kind IS NOT NULL THEN conv_a
           WHEN mb_kind IS NOT NULL THEN conv_b END
    ELSE
      CASE WHEN mb_kind IS NOT NULL THEN conv_b
           WHEN ma_kind IS NOT NULL THEN conv_a END
    END AS doc_id,
    CASE WHEN pct_a > pct_b THEN
      CASE WHEN ma_kind IS NOT NULL THEN ma_start
           WHEN mb_kind IS NOT NULL THEN mb_start END
    ELSE
      CASE WHEN mb_kind IS NOT NULL THEN mb_start
           WHEN ma_kind IS NOT NULL THEN ma_start END
    END AS start,
    CASE WHEN pct_a > pct_b THEN
      CASE WHEN ma_kind IS NOT NULL THEN ma_end
           WHEN mb_kind IS NOT NULL THEN mb_end END
    ELSE
      CASE WHEN mb_kind IS NOT NULL THEN mb_end
           WHEN ma_kind IS NOT NULL THEN ma_end END
    END AS "end",
    CASE WHEN pct_a > pct_b THEN
      CASE WHEN ma_kind IS NOT NULL THEN ma_kind
           WHEN mb_kind IS NOT NULL THEN mb_kind END
    ELSE
      CASE WHEN mb_kind IS NOT NULL THEN mb_kind
           WHEN ma_kind IS NOT NULL THEN ma_kind END
    END AS kind
  FROM (
    SELECT *,
      CASE WHEN pct_a > 0.9 THEN 'full'
           WHEN a_start <= {_SUB_GAP} THEN 'edge5'
           WHEN (len_a - a_end) < {_SUB_GAP} THEN 'edge3' END AS ma_kind,
      CASE WHEN pct_a > 0.9 THEN 1
           WHEN a_start <= {_SUB_GAP} THEN 1
           ELSE a_start END AS ma_start,
      CASE WHEN pct_a > 0.9 THEN len_a
           WHEN a_start <= {_SUB_GAP} THEN a_end
           ELSE len_a END AS ma_end,
      CASE WHEN pct_b > 0.9 THEN 'full'
           WHEN b_start <= {_SUB_GAP} THEN 'edge5'
           WHEN (len_b - b_end) < {_SUB_GAP} THEN 'edge3' END AS mb_kind,
      CASE WHEN pct_b > 0.9 THEN 1
           WHEN b_start <= {_SUB_GAP} THEN 1
           ELSE b_start END AS mb_start,
      CASE WHEN pct_b > 0.9 THEN len_b
           WHEN b_start <= {_SUB_GAP} THEN b_end
           ELSE len_b END AS mb_end
    FROM with_len
  )
)
"""
)


# ------------------------------------------------ ANN / multimodal queries

def _q_ann_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH bucketed cosine top-k (operators/ann.py) — the
    scale path of the similarity-search family; brute-force cosine_topk
    is its correctness baseline AND its oracle: at driver sf the LSH
    parameters (4 planes × 12 tables × 5 probes) put per-neighbor miss
    probability ≈ 1e-3 even for weakly-similar neighbors, and on the
    deterministic driver corpus the candidate set provably covers every
    true top-3 — so the output EQUALS the brute-force answer and the
    driver's hash check verifies the whole LSH path end to end. At
    corpus scale the plane count comes from :func:`ann.planes_for`
    (bucket-population sizing); recall-vs-brute at 10× corpus is
    asserted in tests/test_ann_multimodal.py."""
    from dedup_spark.operators import ann

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ann.ann_topk(
        emb, queries, k=3, n_planes=4, dim=64, n_probes=5, n_tables=12,
    )


def _q_ann_ivf_topk(spark, sf_dir):
    """IVF-Flat bucketed cosine top-k (operators/ann.ivf_topk) — the
    data-adaptive scale path of the similarity-search family (coarse
    k-means quantizer → inverted-list equi-join → in-list exact cosine).
    Run here with n_probes == n_lists, where the probed set provably
    covers the corpus and the output EQUALS brute force — so the driver
    value-hash-checks the whole IVF machinery (deterministic k-means
    fit, assignment UDF, list join, ranking) against the cosine_topk
    oracle. Sub-exhaustive probe recall (the production operating
    point) is pytest-asserted on planted clusters in
    tests/test_ann_multimodal.py."""
    from dedup_spark.operators import ann

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ann.ivf_topk(
        emb, queries, k=3, n_lists=16, n_probes=16, seed=42, n_iters=8
    )


def _q_embedding_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate PAIRS (the dedup-family variant
    of similarity search): candidates from a hyperplane-LSH bucket
    self-join over 8 independent tables (recall-first: a cos ≥ 0.95
    pair collides in ≥1 of 8 six-plane tables with prob ≈ 1 − 2e-3),
    then exact cosine verification — no quadratic stage. The DuckDB
    oracle is the exhaustive self-join (fine at oracle sf).

    The driver's synthetic embeddings top out near cos ≈ 0.5, so both
    engines correctly report ZERO pairs at the 0.95 near-dup threshold;
    tests/test_ann_multimodal.py plants genuine near-dup clusters and
    asserts nonzero recovery through this same operator path."""
    from dedup_spark.operators import ann

    emb = _read(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    b = ann.bucket_ids(v, "v", n_planes=6, dim=64, seed=42, n_probes=1, n_tables=8)
    left = b.select("table", "bucket", F.col("vec_id").alias("vec_a"))
    right = b.select("table", "bucket", F.col("vec_id").alias("vec_b"))
    cand = (
        left.join(right, ["table", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    va = v.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("xa"))
    vb = v.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("xb"))
    dot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )
    cos = F.round(
        dot(F.col("xa"), F.col("xb"))
        / (F.sqrt(dot(F.col("xa"), F.col("xa"))) * F.sqrt(dot(F.col("xb"), F.col("xb")))),
        4,
    )
    return (
        cand.join(va.hint("shuffle_hash"), "vec_a")
        .join(vb.hint("shuffle_hash"), "vec_b")
        .withColumn("cos", cos)
        .filter(F.col("cos") >= 0.95)
        .select("vec_a", "vec_b", "cos")
    )


NEARDUP_EMB_SQL = """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
            / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
               * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) >= 0.95
"""


def _q_multimodal_features(spark, sf_dir):
    """Binary-payload decode plumbing via mapInPandas (deterministic
    fake decode; real codecs are the stubbed integration point)."""
    from dedup_spark.operators import multimodal

    docs = _read(spark, sf_dir, "documents")
    assets = multimodal.synthesize_assets(docs)
    feats = multimodal.extract_features(assets)
    return feats.select(
        "asset_id", "kind", "dim",
        F.round(F.aggregate("features", F.lit(0.0), lambda s, x: s + x), 4).alias(
            "feature_sum"
        ),
    )


def _q_frame_samples(spark, sf_dir):
    from dedup_spark.operators import multimodal

    docs = _read(spark, sf_dir, "documents")
    assets = multimodal.synthesize_assets(docs)
    return multimodal.sample_frames(assets, every_ms=1000).select(
        "asset_id", "kind", F.col("offset_ms").cast("long").alias("offset_ms")
    )


# exact mirror of fake_decode's lane arithmetic: lane j value =
# (Σ bytes at positions ≡ j (mod 64) mod 256)/256 — every value an exact
# float, and the audio roll permutes lanes without changing the sum
FEATURES_SQL = """
WITH bytes AS (
  SELECT doc_id, (u.i - 1) % 64 AS lane,
         ord(substr(text, cast(u.i AS int), 1)) AS b
  FROM documents, unnest(range(1, len(text) + 1)) AS u(i)
),
lanes AS (SELECT doc_id, lane, sum(b) AS s FROM bytes GROUP BY doc_id, lane),
sums AS (SELECT doc_id, sum((s % 256)::double / 256) AS fs FROM lanes GROUP BY doc_id)
SELECT d.doc_id AS asset_id,
       CASE WHEN d.doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
       64 AS dim, round(coalesce(s.fs, 0.0::double), 4) AS feature_sum
FROM documents d LEFT JOIN sums s USING (doc_id)
"""


FRAME_SAMPLES_SQL = """
SELECT doc_id AS asset_id, 'audio' AS kind, u.o AS offset_ms
FROM (SELECT doc_id, len(text) * 10 AS dur FROM documents WHERE doc_id % 2 = 1),
     unnest(range(0, dur, 1000)) AS u(o)
"""


def _q_resize_plan(spark, sf_dir):
    from dedup_spark.operators import multimodal

    docs = _read(spark, sf_dir, "documents")
    assets = multimodal.synthesize_assets(docs)
    r = multimodal.resize_meta(assets, max_side=256).filter(
        F.col("kind") == "image"
    )
    return r.select(
        "asset_id",
        F.col("meta.width").cast("long").alias("width"),
        F.col("meta.height").cast("long").alias("height"),
        F.col("resize_to.width").cast("long").alias("target_width"),
        F.col("resize_to.height").cast("long").alias("target_height"),
    )


RESIZE_SQL = """
SELECT asset_id, width::bigint AS width, height::bigint AS height,
       floor(width * scale)::bigint AS target_width,
       floor(height * scale)::bigint AS target_height
FROM (
  SELECT doc_id AS asset_id, doc_id % 640 + 32 AS width, doc_id % 480 + 32 AS height,
         CASE WHEN doc_id % 640 + 32 > 256 OR doc_id % 480 + 32 > 256
              THEN least(256.0 / (doc_id % 640 + 32), 256.0 / (doc_id % 480 + 32))
              ELSE 1.0 END AS scale
  FROM documents WHERE doc_id % 2 = 0
)
"""


# --- rows-only queries (non-SQL-expressible: custom hash kernels) ---

def _q_minhash_candidates(spark, sf_dir):
    """MinHash-LSH candidate pairs over the derived turns corpus —
    the J3 band self-join with the real numpy kernels (not
    SQL-expressible in DuckDB, so rows-only check)."""
    from dedup_spark.config import DedupConfig
    from dedup_spark.operators import lsh, shingling

    cfg = DedupConfig(df_band_mode="tail")
    # every expensive link in this chain is checkpoint-memoized: the
    # shingle UDF (sets), the DF groupBy (sdf), and the signature UDF
    # (bands) each run ONCE even though the histogram collect, the
    # informative join, and the three-tier band self-join all scan their
    # upstream multiple times (the round-2 bench showed this query
    # re-running the UDF chain ≥3× — 40s for a 20s plan).
    sets_df = _shared(
        spark, sf_dir, "mh_sets",
        lambda: shingling.shingle_sets(_transcripts(spark, sf_dir), cfg),
    )
    exploded = shingling.exploded_shingles(sets_df)
    sdf = _shared(
        spark, sf_dir, "mh_sdf",
        lambda: shingling.shingle_document_frequency(exploded),
    )
    hist = [(r["df"], r["n_shingles"]) for r in shingling.df_histogram(sdf).collect()]
    lo, hi = shingling.pick_df_band(hist, cfg)
    bands = _shared(
        spark, sf_dir, "mh_bands",
        lambda: lsh.explode_bands(
            lsh.compute_signatures(
                shingling.informative_shingle_sets(exploded, sdf, lo, hi), cfg
            )
        ),
    )
    sizes = _shared(
        spark, sf_dir, "mh_sizes", lambda: lsh.band_bucket_sizes(bands)
    )
    return lsh.candidate_pairs(bands, sizes, cfg)


# --- oracle-checkable algorithmic twins of the hash kernels ---
#
# The production MinHash/SimHash kernels (functions/hashing.py) are
# vectorized numpy and not expressible in DuckDB, so their queries are
# rows-only. These twins run the SAME algorithms over an md5-derived
# 32-bit token hash that BOTH engines compute identically (Spark
# conv(hex)≡DuckDB '0x'::ubigint), upgrading the algorithm families
# A7 (minhash) and X8→simhash from rows-only to full value-hash checks:
# permutation-min and bit-vote logic are verified end to end; only the
# base hash primitive differs from production.

_TWIN_PERMS = [(2 * j + 1, 7919 * (j + 1)) for j in range(16)]  # (a_j, b_j)
_TWIN_P = 4_294_967_311  # prime > 2^32


def _q_minhash_perm_sigs(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    h = "conv(substring(md5(tok), 1, 8), 16, 10)"  # 32-bit hex → decimal str
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    ).selectExpr("doc_id", f"cast({h} AS bigint) AS h")
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_TWIN_P)).alias(f"mh_{j}")
        for j, (a, b) in enumerate(_TWIN_PERMS)
    ]
    return toks.groupBy("doc_id").agg(*aggs)


MINHASH_TWIN_SQL = (
    "WITH toks AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h "
    "FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok "
    "FROM documents)) SELECT doc_id, "
    + ", ".join(
        f"min(({a} * h + {b}) % {_TWIN_P}) AS mh_{j}"
        for j, (a, b) in enumerate(_TWIN_PERMS)
    )
    + " FROM toks GROUP BY doc_id"
)

#: bands over the twin signatures: 4 bands × r=4 rows (r=2 measured
#: near-all-pairs on the shared-vocabulary driver corpus: 85% of all
#: doc pairs collided; r=4 keeps the candidate set selective). Band
#: values are STRING concatenations (engine-identical; an arithmetic
#: combiner would overflow int64, where Spark wraps but DuckDB raises).
_TWIN_BANDS = 4
_TWIN_R = 4


def _q_minhash_band_pairs(spark, sf_dir):
    """LSH banding twin (J3 upgraded from rows-only to value-checked):
    band the oracle-checkable twin signatures (8 bands × 2 rows), bucket
    self-join, canonical doc_a < doc_b pairs with the shared-band count.
    Exercises the full candidate-generation shape — signature → band
    explode → bucket equi-self-join → self-match removal → canonical
    dedupe — with a DuckDB mirror computing the identical answer; the
    production path (operators/lsh.py) differs only in the hash kernel
    and the skew tiers."""
    sigs = _q_minhash_perm_sigs(spark, sf_dir)
    stack = ", ".join(
        f"{i}, concat_ws('_', "
        + ", ".join(f"mh_{_TWIN_R * i + r}" for r in range(_TWIN_R))
        + ")"
        for i in range(_TWIN_BANDS)
    )
    bands = sigs.selectExpr(
        "doc_id", f"stack({_TWIN_BANDS}, {stack}) AS (band_id, band_val)"
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "band_id", "band_val"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), "band_id", "band_val"
    )
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.countDistinct("band_id").alias("n_shared_bands"))
    )


MINHASH_BAND_PAIRS_SQL = (
    "WITH toks AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h "
    "FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok "
    "FROM documents)), sigs AS (SELECT doc_id, "
    + ", ".join(
        f"min(({a} * h + {b}) % {_TWIN_P}) AS mh_{j}"
        for j, (a, b) in enumerate(_TWIN_PERMS)
    )
    + " FROM toks GROUP BY doc_id), bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_id, "
        + " || '_' || ".join(
            f"mh_{_TWIN_R * i + r}::VARCHAR" for r in range(_TWIN_R)
        )
        + " AS band_val FROM sigs"
        for i in range(_TWIN_BANDS)
    )
    + ") SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "count(DISTINCT a.band_id)::BIGINT AS n_shared_bands "
    "FROM bands a JOIN bands b ON a.band_id = b.band_id "
    "AND a.band_val = b.band_val AND a.doc_id < b.doc_id "
    "GROUP BY 1, 2"
)


def _q_simhash_bitvote_docs(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    h = "conv(substring(md5(tok), 1, 8), 16, 10)"
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    ).selectExpr("doc_id", f"cast({h} AS bigint) AS h")
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when((F.shiftright(F.col("h"), i) % 2) == 1, 1).otherwise(-1)
            ).alias(f"v_{i}")
            for i in range(32)
        ]
    )
    sim = None
    for i in range(32):
        bit = F.when(F.col(f"v_{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return votes.select("doc_id", sim.cast("long").alias("simhash32"))


SIMHASH_TWIN_SQL = (
    "WITH toks AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h "
    "FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok "
    "FROM documents)), votes AS (SELECT doc_id, "
    + ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(32)
    )
    + " FROM toks GROUP BY doc_id) SELECT doc_id, ("
    + " + ".join(
        f"CASE WHEN v_{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END" for i in range(32)
    )
    + ")::BIGINT AS simhash32 FROM votes"
)


def _q_simhash_docs(spark, sf_dir):
    from dedup_spark.config import DedupConfig
    from dedup_spark.functions.udfs import make_shingle_udf, make_signature_udf

    cfg = DedupConfig()
    docs = _read(spark, sf_dir, "documents")
    sh = make_shingle_udf(cfg)
    sig = make_signature_udf(cfg)
    d = docs.select("doc_id", sh(F.col("text")).alias("shingles"))
    d = d.filter(F.size("shingles") > 0).withColumn("s", sig(F.col("shingles")))
    return d.select("doc_id", F.col("s.simhash").alias("simhash"))


QUERIES: dict[str, QuerySpec] = {
    "turns_from_documents": QuerySpec(
        _q_turns, f"WITH {TURNS_SQL} SELECT conv_id, turn_idx, text FROM turns"
    ),
    "transcript_assembly": QuerySpec(
        _q_transcripts,
        f"WITH {TRANSCRIPTS_SQL} SELECT conv_id, doc, n_turns, len(doc) AS doc_len FROM transcripts",
    ),
    "shingle_df": QuerySpec(
        _q_shingle_df, f"WITH {SHINGLES_SQL} SELECT shingle, df FROM shingle_df"
    ),
    "shingle_df_histogram": QuerySpec(
        _q_df_histogram,
        f"WITH {SHINGLES_SQL} SELECT df, count(*) AS n_shingles FROM shingle_df GROUP BY df",
    ),
    "informative_shingles": QuerySpec(
        _q_informative,
        f"WITH {SHINGLES_SQL} SELECT shingle, df FROM shingle_df WHERE df BETWEEN 2 AND 4",
    ),
    "conv_shingle_stats": QuerySpec(_q_conv_shingle_stats, CONV_STATS_SQL),
    "exact_dedup_docs": QuerySpec(
        _q_exact_dedup,
        "SELECT md5(text) AS text_hash, min(doc_id) AS rep_doc_id, count(*) AS n_copies "
        "FROM documents GROUP BY md5(text)",
    ),
    "exact_dup_groups": QuerySpec(
        _q_dup_groups,
        "SELECT md5(text) AS text_hash, min(doc_id) AS rep_doc_id, count(*) AS n_copies "
        "FROM documents GROUP BY md5(text) HAVING count(*) > 1",
    ),
    "verified_token_pairs": QuerySpec(
        _q_verified_pairs,
        f"WITH {VERIFIED_PAIRS_SQL} SELECT lang, source, doc_a, doc_b, common, "
        "jaccard, containment_a, containment_b FROM verified",
    ),
    "cc_clusters": QuerySpec(
        _q_cc_clusters,
        f"""WITH RECURSIVE {VERIFIED_PAIRS_SQL},
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM verified
  UNION SELECT doc_b, doc_a FROM verified
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE r.a <> s.b
),
labels AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
)
SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id""",
    ),
    "events_sessionize": QuerySpec(
        _q_sessionize,
        f"WITH {SESSIONIZE_SQL} SELECT user_id, event_id, session_id FROM sessionized",
    ),
    "session_spans": QuerySpec(
        _q_session_spans,
        f"""WITH {SESSIONIZE_SQL}
SELECT s.user_id, s.session_id, count(*) AS n_events,
       min(s.ep) AS start_epoch, max(s.ep) AS end_epoch,
       (sum(e.value::decimal(18,2)))::double AS sum_value
FROM sessionized s JOIN events e ON s.event_id = e.event_id
GROUP BY s.user_id, s.session_id""",
    ),
    "topk_events_per_user": QuerySpec(
        _q_topk_events,
        """SELECT user_id, event_id, value, rn FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
  FROM events) WHERE rn <= 3""",
    ),
    "token_stats": QuerySpec(
        _q_token_stats,
        "SELECT doc_id, len(string_split(text,' ')) AS n_tokens, "
        "len(text) AS n_chars, "
        "round(len(replace(text, ' ', ''))::double / len(string_split(text,' ')), 6) AS avg_token_len "
        "FROM documents",
    ),
    "bpe_token_stats": QuerySpec(_q_bpe_token_stats, BPE_TOKEN_SQL),
    "quality_score": QuerySpec(
        _q_quality_score,
        f"""SELECT doc_id,
       len(string_split(text,' ')) AS n_tokens,
       len(list_filter(string_split(text,' '), t -> list_contains({_STOP_SQL_LIST}, t))) AS n_stopwords,
       round(len(list_filter(string_split(text,' '), t -> list_contains({_STOP_SQL_LIST}, t)))::double
             / len(string_split(text,' ')), 6) AS stop_ratio,
       round((len(list_filter(string_split(text,' '), t -> list_contains({_STOP_SQL_LIST}, t)))
             + least(len(string_split(text,' ')), 100))::double
             / (len(string_split(text,' ')) + 200), 6) AS quality
FROM documents""",
    ),
    "langid_heuristic": QuerySpec(
        _q_langid,
        None,  # filled in below (generated from _LANG_MARKERS)
    ),
    "doc_fingerprint": QuerySpec(
        _q_fingerprint,
        "SELECT doc_id, md5(lower(text)) AS fingerprint FROM documents",
    ),
    "winnow_fingerprints": QuerySpec(_q_winnow_fingerprints, WINNOW_SQL),
    "embedding_norms": QuerySpec(
        _q_embedding_norms,
        "SELECT vec_id, label, round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS l2_norm FROM embeddings",
    ),
    "cosine_topk": QuerySpec(
        _q_cosine_topk,
        """SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 4) AS sim,
         row_number() OVER (PARTITION BY q.vec_id ORDER BY
           round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))
           , 4) DESC, c.vec_id ASC) AS rank
  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
) WHERE rank <= 3""",
    ),
    "tpch_pricing_summary": QuerySpec(
        _q_tpch_pricing,
        """SELECT l_returnflag, l_linestatus,
       (sum(l_quantity::decimal(18,2)))::double AS sum_qty,
       (sum(l_extendedprice::decimal(18,2)))::double AS sum_base_price,
       (sum(l_extendedprice::decimal(18,4) * (1::decimal(18,4) - l_discount::decimal(18,4))))::double AS sum_disc_price,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
    ),
    "top_revenue_orders": QuerySpec(
        _q_top_revenue_orders,
        """SELECT l_orderkey, c_name, round(revenue, 2) AS revenue FROM (
  SELECT l.l_orderkey, sum(l.l_extendedprice::decimal(18,4) * (1::decimal(18,4) - l.l_discount::decimal(18,4)))::double AS revenue
  FROM lineitem l GROUP BY l.l_orderkey
) r JOIN orders o ON r.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY revenue DESC, l_orderkey ASC LIMIT 20""",
    ),
    "minhash_lsh_candidates": QuerySpec(_q_minhash_candidates, None),
    "simhash_docs": QuerySpec(_q_simhash_docs, None),
    # oracle-checkable algorithmic twins of the two hash kernels above
    "minhash_perm_sigs": QuerySpec(_q_minhash_perm_sigs, MINHASH_TWIN_SQL),
    "simhash_bitvote_docs": QuerySpec(_q_simhash_bitvote_docs, SIMHASH_TWIN_SQL),
    "minhash_band_pairs": QuerySpec(_q_minhash_band_pairs, MINHASH_BAND_PAIRS_SQL),
    "substring_anchors": QuerySpec(
        _q_substring_anchors,
        f"WITH {_ANCHORS_SQL} SELECT conv_a, conv_b, a_pos, b_pos FROM anchors",
    ),
    "substring_spans": QuerySpec(
        _q_substring_spans,
        f"WITH {_SPANS_SQL} SELECT conv_a, conv_b, a_start, a_end, b_start, b_end, "
        "n_anchors, matched FROM spans",
    ),
    "dnd_moving_average": QuerySpec(
        _q_dnd_moving_average,
        f"""WITH {_POSCLS_SQL}
SELECT conv_id AS doc_id, cast(floor((pos - 1) / 100) AS bigint) AS win_id,
       count(*) AS n_positions,
       round(sum(cls)::double / count(*), 6) AS mean_dnd
FROM poscls GROUP BY 1, 2""",
    ),
    "span_scores": QuerySpec(
        _q_span_scores,
        f"WITH {_SCORED_SQL} SELECT conv_a, conv_b, a_start, a_end, b_start, "
        "b_end, matched, round(dnd_a, 4) AS dnd_a, round(dnd_b, 4) AS dnd_b, "
        "round(score, 4) AS score FROM scored",
    ),
    "substring_best_match": QuerySpec(
        _q_substring_best,
        f"WITH {_BEST_SQL} SELECT conv_a, conv_b, a_start, a_end, b_start, b_end, "
        "n_anchors, matched FROM best",
    ),
    "interval_marks": QuerySpec(
        _q_interval_marks,
        f'WITH {_MARKS_SQL} SELECT doc_id, start, "end", kind FROM marks '
        "WHERE doc_id IS NOT NULL",
    ),
    # same oracle as cosine_topk: the LSH path recovers the exact
    # brute-force top-3 at driver sf (see _q_ann_lsh_topk docstring)
    "ann_lsh_topk": QuerySpec(_q_ann_lsh_topk, None),  # sql set below
    "ann_ivf_topk": QuerySpec(_q_ann_ivf_topk, None),  # sql set below
    "embedding_neardup_pairs": QuerySpec(_q_embedding_neardup_pairs, NEARDUP_EMB_SQL),
    "multimodal_features": QuerySpec(_q_multimodal_features, FEATURES_SQL),
    "frame_samples": QuerySpec(_q_frame_samples, FRAME_SAMPLES_SQL),
    "asset_resize_plan": QuerySpec(_q_resize_plan, RESIZE_SQL),
}


def _langid_sql() -> str:
    score_cols = []
    for lang in sorted(_LANG_MARKERS):
        markers = "[" + ",".join(f"'{m}'" for m in _LANG_MARKERS[lang]) + "]"
        score_cols.append(
            f"len(list_filter(string_split(text,' '), t -> list_contains({markers}, t))) AS score_{lang}"
        )
    langs = sorted(_LANG_MARKERS)
    pred = f"'{langs[0]}'"
    best = f"score_{langs[0]}"
    for lang in langs[1:]:
        pred = f"CASE WHEN score_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"greatest({best}, score_{lang})"
    order = ["score_en", "score_es", "score_de", "score_fr", "score_zh"]
    return (
        "SELECT doc_id, " + ", ".join(order) + f", {pred} AS predicted_lang "
        "FROM (SELECT doc_id, " + ", ".join(score_cols) + " FROM documents)"
    )


QUERIES["langid_heuristic"] = QuerySpec(_q_langid, _langid_sql())
QUERIES["ann_lsh_topk"] = QuerySpec(
    _q_ann_lsh_topk, QUERIES["cosine_topk"].sql
)
# exhaustive-probe IVF equals brute force (see _q_ann_ivf_topk docstring)
QUERIES["ann_ivf_topk"] = QuerySpec(
    _q_ann_ivf_topk, QUERIES["cosine_topk"].sql
)
