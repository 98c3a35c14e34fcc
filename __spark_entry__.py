"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship MICR-extraction pipeline on the
synthesized interleaved documents/media corpus (the driver's TPC-H-ish
testdata has no image payloads; BASELINE.json's input_hint table shape
is synthesized deterministically at small scale — seed 42).

``queries()``/``oracle_sql()`` cover, per SURVEY.md §2:
- OCR relational twins over the exploded fixture intermediates
  (contours / char_scores / micr_cases / expected_spans), referenced in
  DuckDB via read_parquet of absolute paths;
- engine-breadth twins over the driver's TPC-H-ish tables (group aggs,
  window top-k, argmax, regexp scalars, range join);
- training-data ops over the driver's documents/embeddings tables
  (exact dedup, n-gram Jaccard near-dup, token/quality/langid text
  analysis, brute-force cosine ANN) — first-class at 100 TB scale.

Every query has a DuckDB oracle twin: the dedup family (minhash,
simhash, LSH buckets) uses portable polynomial-hash arithmetic computed
identically in SQL, and media metadata is checked against compose-time
golden width/height columns — no rows-only checks remain.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from fin_ocr_sdk_spark.sources import query_fixtures as _qfx  # noqa: E402

SMOKE_DOCS = 16
SFTEST_DOCS = 128


def _fixtures(name: str = "sftest", n: int = SFTEST_DOCS) -> str:
    from fin_ocr_sdk_spark.sources.tables import fixture_dir
    return fixture_dir(name, n)


def _fx(table: str) -> str:
    return os.path.join(_fixtures(), f"{table}.parquet")


# SQL confs that change the schema Spark's parquet inference returns
_INFER_CONFS = ("spark.sql.parquet.binaryAsString",
                "spark.sql.parquet.int96AsTimestamp",
                "spark.sql.parquet.inferTimestampNTZ.enabled",
                "spark.sql.legacy.parquet.nanosAsLong",
                "spark.sql.parquet.mergeSchema",
                "spark.sql.caseSensitive")
# absolute path -> (cache key, schema Spark inferred for it)
_SCHEMAS: dict = {}


def _file_stamps(path: str) -> tuple | None:
    """(relative name, st_mtime_ns, st_size) of every file under a
    local path, or None when there is none or a stat fails."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return (("", st.st_mtime_ns, st.st_size),)
        out = []
        for d, _, names in os.walk(path):
            for n in names:
                st = os.stat(os.path.join(d, n))
                out.append((os.path.relpath(os.path.join(d, n), path),
                            st.st_mtime_ns, st.st_size))
    except OSError:
        return None
    return tuple(sorted(out)) or None


def _read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring each table's schema once
    per session.  Every query reads its tables through here.

    Without a schema, Spark infers one by reading the parquet footers
    in a Spark job (``SchemaMergeUtils.mergeSchemasInParallel``), even
    for a single file: ~0.1 s per read warm on a 4-core host, 10 of
    the 40 jobs of a timed perfbench ``train_queries`` suite.  The first read of a
    table lets Spark infer as usual and remembers the result; a later
    read of the same files passes it to ``spark.read.schema(...)``,
    which plans the same relation (same ``inputFiles()``, still a bare
    file scan) and runs no job (0.02 s).  The schema always comes from
    Spark's own inference, never from the footers read here, so
    Spark's type mapping is never re-implemented.

    The cache key is the session (``applicationId`` plus the SQL confs
    that steer inference), the absolute path, and ``(name,
    st_mtime_ns, st_size)`` of every file under it, so a rewritten
    table is inferred again.  A path that cannot be stat'ed on the
    driver (another filesystem, a glob, a missing path) is read with
    plain ``spark.read.parquet``."""
    scheme, _, rest = path.partition(":")
    if rest and "/" not in scheme:  # a URI: only file: is local
        local = "/" + rest.lstrip("/") if scheme == "file" else None
    else:  # a bare path names a file on the default filesystem
        fs = spark.sparkContext._jsc.hadoopConfiguration().get(
            "fs.defaultFS", "file:///")
        local = path if fs.startswith("file:") else None
    local = local and os.path.abspath(local)
    stamps = local and _file_stamps(local)
    if not stamps:
        return spark.read.parquet(path)
    key = (spark.sparkContext.applicationId,
           tuple(spark.conf.get(c, None) for c in _INFER_CONFS), stamps)
    hit = _SCHEMAS.get(local)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[local] = (key, df.schema)
    return df


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleaved docs + media → OCR-augmented span table."""
    from fin_ocr_sdk_spark.plans.pipeline import extract_spans
    d = _fixtures("smoke", SMOKE_DOCS)
    docs = _read(spark, os.path.join(d, "documents.parquet"))
    media = _read(spark, os.path.join(d, "media.parquet"))
    return extract_spans(docs, media)


# ------------------------------------------------------------ helpers

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _read(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Parallelism floor for an opaque Python kernel, set by input
    bytes (guide §2.5/§4).  A single-row-group parquet file scans as
    ONE task however many cores the cluster has — Spark splits files
    by byte ranges, but a row group belongs to exactly one split — so
    the kernel downstream would serialize on one core.

    The rule: when the local files ``df`` reads hold at least one
    minimum work unit (``pipeline.MIN_UNIT_BYTES``, 1 MB — the same
    floor below which the direct media scan never slices a file) and
    the scan yields fewer partitions than the cluster's parallelism,
    hash-repartition by the row key (deterministic under task retry,
    unlike round-robin of a non-deterministic input — guide §2.5).
    Below the unit the input is returned as is, and ``df.rdd`` is never
    built: there an exchange stage plus a Python worker per core cost
    more than the kernel's whole run (4-core host, 64-190 KB tables:
    minhash_dedup 0.76 -> 0.53 s unspread, peak RSS -19%; at sf0.1's
    0.6-0.8 MB tables spreading was a wash).  Inputs that list no local files (object
    stores, in-memory rows) and wide inputs (the 100 TB case:
    thousands of files/row groups, where the partition check is a
    no-op) keep the partition rule, so nothing here depends on the
    cluster.  The shuffle moves only the projected columns the caller
    kept."""
    from fin_ocr_sdk_spark.plans.pipeline import MIN_UNIT_BYTES, local_files
    files = local_files(df.inputFiles())
    if files is not None and sum(s for _, s in files) < MIN_UNIT_BYTES:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par, F.col(key))


def _fxdf(spark: SparkSession, table: str) -> DataFrame:
    return _read(spark, _fx(table))


# template order for deterministic tie-breaks (single-contour eles
# first, then multi — src/opencvTranslator.ts:208)
_TPL_ORDER = "1234567890TUAD"
_TPL_ORDER_SQL = ("CASE template_value "
                  + " ".join(f"WHEN '{c}' THEN {i}"
                             for i, c in enumerate(_TPL_ORDER))
                  + " END")


def _tpl_order_col():
    mapping = F.create_map(
        *[F.lit(x) for pair in
          [(c, i) for i, c in enumerate(_TPL_ORDER)] for x in pair])
    return mapping[F.col("template_value")]


# ------------------------------------------------------- OCR queries

def q_micr_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fin_ocr_sdk_spark.plans.pipeline import extract_spans
    docs = _fxdf(spark, "documents")
    media = _fxdf(spark, "media")
    out = extract_spans(docs, media)
    return out.select("doc_id", "kind", "text", "media_ref",
                      F.col("order").cast("int").alias("order"))


def q_micr_parse_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MICR grammar over the golden case table via a vectorized pandas
    UDF (the state machine is not SQL-expressible; oracle reads the
    golden columns)."""
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([
        StructField("case_id", StringType()),
        StructField("routing_number", StringType()),
        StructField("account_number", StringType()),
        StructField("check_number", StringType()),
    ])

    def parse_batches(it):
        from fin_ocr_sdk_spark.functions.micr import parse_micr
        for pdf in it:
            infos = [parse_micr(line) for line in pdf["micr_line"]]
            yield pd.DataFrame({
                "case_id": pdf["case_id"],
                "routing_number": [i.routing_number for i in infos],
                "account_number": [i.account_number for i in infos],
                "check_number": [i.check_number for i in infos],
            })

    cases = _fxdf(spark, "micr_cases")
    return cases.mapInPandas(parse_batches, schema)


def q_contour_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contour predicate filter (src/contour.ts:63-98) as a WHERE."""
    c = _fxdf(spark, "contours")
    return (c.filter((F.col("w") >= 3) & (F.col("h") >= 7)
                     & (F.col("area2") >= 20) & (F.col("w") <= 100))
            .select("doc_id", "contour_idx", "x", "y", "w", "h"))


def q_contour_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-to-top sort + per-doc top-5 (seed-search scan order,
    src/check.ts:308)."""
    c = _fxdf(spark, "contours")
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("y"), F.asc("contour_idx"))
    return (c.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= 5)
            .select("doc_id", "contour_idx", "y", "rk"))


def q_contour_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score S/M/L categorizer (src/categorizer.ts:24-57) — POPULATION
    std over a per-doc window."""
    c = _fxdf(spark, "contours")
    w = Window.partitionBy("doc_id")
    z = (F.col("area2") - F.avg("area2").over(w)) / F.stddev_pop("area2").over(w)
    cat = (F.when(z < -1, "S").when(z > 1, "L").otherwise("M"))
    return (c.select("doc_id", "contour_idx", cat.alias("zcat"))
            )


def q_contour_bounding_rect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional min/max bounding-rect agg (src/line.ts:469-513 shape):
    x over medium+small, y over medium only."""
    c = _fxdf(spark, "contours")
    return (c.groupBy("doc_id").agg(
        F.min(F.when(F.col("size_class") != "L", F.col("x"))).alias("min_x"),
        F.max(F.when(F.col("size_class") != "L",
                     F.col("x") + F.col("w"))).alias("max_x"),
        F.min(F.when(F.col("size_class") == "M", F.col("y"))).alias("min_y"),
        F.max(F.when(F.col("size_class") == "M",
                     F.col("y") + F.col("h"))).alias("max_y"),
    ))


def q_char_best_choice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-char argmax over template scores (the template-match join's
    agg side, src/opencvTranslator.ts:218-224)."""
    s = _fxdf(spark, "char_scores")
    w = Window.partitionBy("doc_id", "char_idx").orderBy(
        F.desc("score"), _tpl_order_col().asc())
    return (s.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("doc_id", "char_idx",
                    F.col("template_value").alias("best_value"),
                    F.col("score").alias("best_score")))


def q_char_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 choices per char (maxTranslatorChoices, src/config.ts:39)."""
    s = _fxdf(spark, "char_scores")
    w = Window.partitionBy("doc_id", "char_idx").orderBy(
        F.desc("score"), _tpl_order_col().asc())
    return (s.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= 3)
            .select("doc_id", "char_idx", "rk",
                    F.col("template_value").alias("value"), "score"))


def q_line_value_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line value = x-ordered concat of best char values; line score =
    floor(avg(best)+0.5) (src/opencvTranslator.ts:146-152)."""
    best = q_char_best_choice(spark, sf_dir)
    agg = (best.groupBy("doc_id").agg(
        F.concat_ws("", F.transform(
            F.array_sort(F.collect_list(
                F.struct("char_idx", "best_value"))),
            lambda x: x["best_value"])).alias("line_value"),
        F.floor(F.avg("best_score") + F.lit(0.5)).cast("long")
        .alias("line_score"),
    ))
    return agg


# --------------------------------------- engine-breadth (TPC-H-ish)

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"),
                 F.sum("l_extendedprice").alias("sum_base_price"),
                 F.sum(F.col("l_extendedprice")
                       * (1 - F.col("l_discount"))).alias("sum_disc_price"),
                 F.avg("l_quantity").alias("avg_qty"),
                 F.avg("l_discount").alias("avg_disc"),
                 F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (o.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice", "rk"))


def q_events_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id"))
    return (e.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("user_id", F.col("event_id").alias("best_event"),
                    F.col("value").alias("best_value")))


def q_regexp_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's scalar string functions (src/util.ts:324-345) as
    column expressions over driver data."""
    o = _t(spark, sf_dir, "orders")
    padded = F.lpad(F.col("o_orderkey").cast("string"), 12, "0")
    return o.select(
        "o_orderkey",
        F.regexp_replace(padded, "^0+", "").alias("no_leading_zeros"),
        F.regexp_replace(F.col("o_orderstatus"), "\\s", "")
        .alias("no_spaces"),
        F.col("o_orderkey").cast("string").rlike("^-?[0-9]+$")
        .alias("is_numeric"),
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-intersection join (the line-membership predicate shape,
    src/util.ts:198-230): join each nation's suppliers and customers,
    theta-join on an arithmetic range predicate."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    return (c.join(s, (c.c_nationkey == s.s_nationkey)
                   & (F.abs(c.c_acctbal - s.s_acctbal) <= 100))
            .select("c_custkey", "s_suppkey",
                    c.c_nationkey.alias("nationkey")))


def q_x9_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x9ToMicr composition shape (src/checkUtil.ts:38-45) over driver
    columns: concat + single-replace + strip spaces."""
    o = _t(spark, sf_dir, "orders")
    on_us = F.concat(F.col("o_custkey").cast("string"), F.lit("/"),
                     F.col("o_orderkey").cast("string"))
    micr = F.concat(
        F.lit("U"), F.col("o_orderkey").cast("string"), F.lit("U"),
        F.lit("T"), F.lpad(F.col("o_custkey").cast("string"), 9, "0"),
        F.lit("T"),
        # FIRST slash only (reference x9ToMicr uses String.replace with
        # a non-global pattern): anchored group rewrite, since Spark's
        # regexp_replace is always replace-all.  The DuckDB twin's
        # regexp_replace without the 'g' flag is first-only natively.
        F.regexp_replace(on_us, "^([^/]*)/", "$1U"))
    return o.select("o_orderkey",
                    F.regexp_replace(micr, "\\s", "").alias("micr"))


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join (customer ⋈ orders ⋈ lineitem) with a
    segment filter, revenue agg, top-10 — multi-join + agg + limit
    breadth over the driver tables (customer is broadcast-size)."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(F.broadcast(c), o.o_custkey == c.c_custkey))
    # integer cents via an identical floor expression on both engines:
    # round() on doubles differs at half-representable points
    rev = F.floor(F.sum(F.col("l_extendedprice")
                        * (1 - F.col("l_discount"))) * 100 + F.lit(0.5)) \
        .cast("long")
    return (joined.groupBy("l_orderkey", "o_orderdate")
            .agg(rev.alias("revenue_cents"))
            .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey"))
            .limit(10)
            .select("l_orderkey", "revenue_cents"))


def q_part_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping + count-distinct breadth: per part brand, distinct sizes
    and average retail price.  The average is taken over integer cents:
    a double sum's order (and so the half-cent tie) depends on the
    partitioning, while a sum of integers is exact in any order."""
    p = _t(spark, sf_dir, "part")
    cents = F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long")
    return (p.groupBy("p_brand")
            .agg(F.countDistinct("p_size").alias("n_sizes"),
                 F.floor(F.avg(cents) + F.lit(0.5))
                 .cast("long").alias("avg_price_cents"),
                 F.count(F.lit(1)).alias("n_parts")))


# ------------------------------------------------ training-data ops

def _tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with the token array materialized ONCE per row.
    Referencing a split() expression inside array-lambda element
    accesses re-evaluates the regex per element — a 20x+ slowdown —
    so every text op indexes this projected column instead."""
    d = _spread(_t(spark, sf_dir, "documents").select("doc_id", "text"),
                "doc_id")
    toks = F.split(F.lower(F.trim(F.col("text"))), "\\s+")
    return d.select("doc_id", toks.alias("t"))


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) — distinct word-3-grams per document."""
    t = _tokenized(spark, sf_dir)
    tc = F.col("t")
    grams = F.array_distinct(F.transform(
        F.slice(tc, 1, F.greatest(F.size(tc) - 2, F.lit(0))),
        lambda _, i: F.concat_ws(" ", tc[i], tc[i + 1], tc[i + 2])))
    return t.select("doc_id", F.explode(grams).alias("gram"))

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy: keep min doc_id per sha256(text),
    report group size.  The group key is the 32-byte digest, NOT the
    text itself: at 100 TB the groupBy shuffle would otherwise move the
    whole corpus across the network, while digests shuffle ~0.03% of
    those bytes (collision risk 2^-128 — below hardware error rates).
    DuckDB computes the identical sha256, so the twin stays exact."""
    d = _t(spark, sf_dir, "documents")
    return (d.groupBy(F.sha2("text", 256).alias("h"))
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count(F.lit(1)).alias("n_dups"))
            .filter(F.col("n_dups") >= 1)
            .select("keep_doc_id", "n_dups"))


_BPE_TOKEN_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways per document: whitespace split and a
    BPE-ish pre-tokenizer regex (letter runs | single digits |
    punctuation — the GPT-2-family split shape), plus char stats.
    Both engines run the same pattern (simple class, identical in Java
    regex and RE2)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), "\\s+")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_TOKEN_RE),
                                    F.lit(0)))
        .cast("long").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
        (F.length("text") - F.length(F.regexp_replace("text", " ", "")))
        .cast("long").alias("n_spaces"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, punctuation ratio, digit ratio, mean
    word length — the boilerplate/garbage heuristics of a training-data
    pipeline, as pure column arithmetic."""
    d = _t(spark, sf_dir, "documents")
    n = F.length("text")
    punct = n - F.length(F.regexp_replace("text", "[.,;:!?]", ""))
    digits = n - F.length(F.regexp_replace("text", "[0-9]", ""))
    toks = F.split(F.trim(F.col("text")), "\\s+")
    ntok = F.size(toks)
    return d.select(
        "doc_id",
        F.round(punct / n, 4).alias("punct_ratio"),
        F.round(digits / n, 4).alias("digit_ratio"),
        F.round(n / ntok, 2).alias("mean_word_len"),
        ((n >= 20) & (punct / n < 0.2)).alias("passes_quality"),
    )


_STOPWORDS = ("the", "and", "of", "to", "in", "is", "that", "for")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: English stopword hit-rate over tokens."""
    d = _t(spark, sf_dir, "documents")
    pat = "\\b(" + "|".join(_STOPWORDS) + ")\\b"
    # materialize hit count + token count once, then derive
    base = d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(pat),
                                    F.lit(0))).alias("hits"),
        F.size(F.split(F.trim(F.lower(F.col("text"))), "\\s+"))
        .alias("ntok"))
    ratio = F.round(F.col("hits") / F.col("ntok"), 4)
    return base.select(
        "doc_id", F.col("hits").cast("long").alias("stopword_hits"),
        ratio.alias("stopword_ratio"),
        (ratio >= 0.1).alias("pred_english"))


# Portable hashing shared by the dedup family: polynomial fold over
# code points mod a prime — computable identically in DuckDB SQL (see
# the oracle twins), vectorized in NumPy in
# fin_ocr_sdk_spark/functions/minhash.py.
from fin_ocr_sdk_spark.functions import minhash as _mh  # noqa: E402

_HASH_P = _mh.HASH_P
_SIMHASH_MULTS = _mh.SIMHASH_MULTS
_MINHASH_A = _mh.MINHASH_A
_MINHASH_B = _mh.MINHASH_B
_MINHASH_BANDS = _mh.MINHASH_BANDS
_MINHASH_BUCKET_CAP = 50   # skew guard: a giant near-dup cluster's band
_JACCARD_DF_CAP = 64       # skew guard: stopword-like hot shingles
_poly_hashes = _mh.poly_hashes


def _capped_pairs(df: DataFrame, keys: list, id_col: str,
                  cap: int) -> DataFrame:
    """Candidate pairs (a < b) of ids sharing a bucket (``keys``),
    named after ``id_col``: ``doc_id`` gives ``doc_a``/``doc_b``.  One
    row per shared bucket, so a pair in k buckets gives k rows; callers
    that want a set call distinct().  Buckets holding more than ``cap``
    ids are dropped: a hot bucket of k ids would emit k² pairs.

    Skew-proof by construction: the bucket size is a window count over
    the keys' exchange, so an over-cap bucket's rows are filtered out
    before collect_list builds any list.  The count equals the size of
    the list collect_list would build (both count the bucket's non-null
    ids), and since ids are distinct per key in every caller (grams are
    distinct per doc; a doc or vector lands once per band) it is the
    bucket's document frequency.  One collect_list and a double explode
    consume the input once, where a self-join would plan and run the
    input's subtree once per side."""
    a, b = id_col[:-2] + "a", id_col[:-2] + "b"
    n = F.count(id_col).over(Window.partitionBy(*keys))
    ids = (df.withColumn("_n", n).filter(F.col("_n") <= cap)
           .groupBy(*keys).agg(F.collect_list(id_col).alias("ids")))
    return (ids.select(F.explode("ids").alias(a), "ids")
            .select(a, F.explode("ids").alias(b))
            .filter(F.col(a) < F.col(b)))


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates: word-3-gram overlap counts between document
    pairs sharing at least 3 n-grams (the n-gram Jaccard join, bucketed
    by shared n-gram so the self-join never goes quadratic).  Shingles
    appearing in more than _JACCARD_DF_CAP documents are dropped before
    pairing — a hot stopword-like shingle in k docs would otherwise
    emit k² join rows (the classic skew blowup at corpus scale)."""
    pairs = _capped_pairs(_shingles(spark, sf_dir), ["gram"], "doc_id",
                          _JACCARD_DF_CAP)
    return (pairs.groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("shared_ngrams"))
            .filter(F.col("shared_ngrams") >= 3))


def _minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, sig) LSH band signatures: all 16 minhashes are
    computed per document in ONE Arrow pass (tokenize → shingle → base
    hash → 16 affine transforms → min), so there is no shingle explode
    or groupBy shuffle at all — minhash state is per-document.  Docs
    with fewer than 3 tokens (no shingles) emit nothing, matching the
    SQL twin's empty GROUP BY."""
    from pyspark.sql.types import (IntegerType, LongType, StructField,
                                   StructType)
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    schema = StructType([
        d.schema["doc_id"],  # id type follows the source table
        StructField("band", IntegerType()),
        StructField("sig", LongType()),
    ])
    # spread: the kernel is the expensive part
    return _spread(d, "doc_id").mapInPandas(_mh.band_rows, schema)


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: 16 portable minhashes → 4 bands of 4 →
    band-bucket join → candidate pairs.  Band buckets larger than
    _MINHASH_BUCKET_CAP docs are dropped before pairing (a single giant
    near-dup cluster would otherwise square inside its bucket).  The
    hash chain is portable polynomial arithmetic, so a DuckDB twin
    verifies the exact pair set."""
    return _capped_pairs(_minhash_bands(spark, sf_dir), ["band", "sig"],
                         "doc_id", _MINHASH_BUCKET_CAP).distinct()


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 64-bit SimHash per document in one vectorized NumPy pass
    per Arrow batch (4 portable 16-bit polynomial hashes per distinct
    token → 64 bit votes → sign bits packed into one BIGINT, bit 63 via
    two's complement).  Replaces the round-1 16-bit Catalyst
    higher-order-lambda chain — interpreted per token × bit, the exact
    hot-path pattern this repo bans — and is oracle-checked in DuckDB
    via the identical hash arithmetic."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    schema = StructType([
        d.schema["doc_id"],  # id type follows the source table
        StructField("simhash64", LongType()),
    ])
    d = _spread(d, "doc_id")  # the kernel below is the expensive part
    sel = np.array([i // 16 for i in range(64)])
    shift = np.array([i % 16 for i in range(64)], dtype=np.int64)
    weights = np.array([1 << i for i in range(63)], dtype=np.int64)

    def compute(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            n = len(pdf)
            tok_lists = [sorted(set(t.strip().lower().split()))
                         for t in pdf["text"]]
            counts = np.fromiter((len(t) for t in tok_lists),
                                 dtype=np.int64, count=n)
            flat = [t for toks in tok_lists for t in toks]
            hs = _poly_hashes(flat, _SIMHASH_MULTS)          # (T, 4)
            signs = (((hs[:, sel] >> shift) & 1) * 2 - 1)    # (T, 64) ±1
            votes = np.zeros((n, 64), dtype=np.int64)
            np.add.at(votes, np.repeat(np.arange(n), counts), signs)
            vals = ((votes[:, :63] > 0).astype(np.int64) @ weights)
            vals = vals + np.where(votes[:, 63] > 0,
                                   np.int64(-(1 << 63)), np.int64(0))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(),
                                "simhash64": vals})

    return d.mapInPandas(compute, schema)


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rolling-hash document fingerprint, portable SQL:
    polynomial hash over character codes of the first 64 chars, mod a
    prime — computable identically in DuckDB."""
    d = _t(spark, sf_dir, "documents")
    prefix = F.substring("text", 1, 64)
    # fold: h = (h*31 + ascii(char)) % 1000000007
    chars = F.filter(F.split(prefix, ""), lambda c: c != F.lit(""))
    h = F.aggregate(
        chars, F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % 1000000007)
    return d.select("doc_id", h.alias("fingerprint"))


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the exact baseline of similarity
    search.  Query set = vec_id < 8, collected to the driver (tiny) and
    closed over as a NumPy matrix; similarities computed as one matmul
    per Arrow batch inside mapInPandas (Catalyst's higher-order lambdas
    are interpreted per element — 20x+ slower); top-5 per query via a
    window over the (n_queries x n_vectors) score rows."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # ordered on the driver: a global orderBy would add a sampling
    # job and a sort job for 8 rows
    qrows = sorted(e.filter(F.col("vec_id") < 8).collect(),
                   key=lambda r: r.vec_id)
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    q_mat = np.array([r.embedding for r in qrows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)

    schema = StructType([
        StructField("query_id", LongType()),
        StructField("vec_id", LongType()),
        StructField("sim", DoubleType()),
    ])

    def score(batches):
        for pdf in batches:
            vecs = np.array(list(pdf["embedding"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            norms = np.linalg.norm(vecs, axis=1)
            sims = (vecs @ q_mat.T) / np.outer(norms, q_norm)  # (N, Q)
            n, qn = sims.shape
            # Partial top-k per batch (guide §2.3: aggregate before you
            # shuffle): the global top-5 per query is a subset of each
            # batch's top-5 per query under the SAME total order
            # (sim desc, vec_id asc), so emitting only batch winners
            # cuts the exchange feeding the final window by ~N/k while
            # the window's result is unchanged.  Self-matches are
            # excluded HERE, before the cut — a self row occupying a
            # batch slot could otherwise push a global-top-5 row out.
            out = {"query_id": [], "vec_id": [], "sim": []}
            for j in range(qn):
                valid = np.flatnonzero(ids != q_ids[j])
                order = valid[np.lexsort((ids[valid], -sims[valid, j]))]
                top = order[:5]
                out["query_id"].append(np.full(len(top), q_ids[j]))
                out["vec_id"].append(ids[top])
                out["sim"].append(sims[top, j])
            yield pd.DataFrame({k: np.concatenate(v) if v else
                                np.array([], dtype=np.int64)
                                for k, v in out.items()})

    scored = (_spread(e, "vec_id").mapInPandas(score, schema)
              .filter(F.col("vec_id") != F.col("query_id")))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    F.round("sim", 4).alias("cosine")))


def _lsh_bands_df(e: DataFrame, n_planes: int = 8) -> DataFrame:
    """(vec_id, band, bucket) banded random-hyperplane LSH.  The
    pseudo-hyperplane is ±1 per (dim, plane) from a deterministic
    integer mix; components are quantized to integer millionths with
    the repo's floor(x*1e6+0.5) rule so the signed projection is EXACT
    integer arithmetic — bit-identical in the DuckDB twin regardless of
    floating summation order.  One int64 matmul per Arrow batch
    (replaces the round-1 interpreted per-element lambda chain).
    Planes are grouped 8-per-band: two vectors are candidates when ANY
    band bucket matches, so more planes tighten each bucket (smaller
    n_b² blow-up) while banding preserves recall."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType
    assert n_planes % 8 == 0
    n_bands = n_planes // 8
    schema = StructType([
        e.schema["vec_id"],
        StructField("band", LongType()),
        StructField("bucket", LongType()),
    ])
    pows = (1 << np.arange(8)).astype(np.int64)

    def compute(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(list(pdf["embedding"]), dtype=np.float64)
            w = np.floor(v * 1_000_000 + 0.5).astype(np.int64)
            d = w.shape[1]
            i = np.arange(d)[:, None]
            b = np.arange(n_planes)[None, :]
            s = np.where(((i * 2654435761 + b * 40503) % 97) < 48, 1, -1
                         ).astype(np.int64)
            proj = w @ s                             # (N, planes) exact
            bits = (proj > 0).astype(np.int64)
            n = len(pdf)
            ids = pdf["vec_id"].to_numpy()
            out = {"vec_id": np.repeat(ids, n_bands),
                   "band": np.tile(np.arange(n_bands, dtype=np.int64), n),
                   "bucket": (bits.reshape(n, n_bands, 8)
                              * pows).sum(axis=2).reshape(-1)}
            yield pd.DataFrame(out)

    return (_spread(e.select("vec_id", "embedding"), "vec_id")
            .mapInPandas(compute, schema))


def _lsh_buckets_df(e: DataFrame) -> DataFrame:
    """(vec_id, bucket) single-band 8-plane LSH (the ANN query's view;
    band 0 of _lsh_bands_df, same plane formula)."""
    return (_lsh_bands_df(e, 8)
            .filter(F.col("band") == 0).select("vec_id", "bucket"))


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for ANN: the LSH bucket id per vector (see
    _lsh_buckets_df)."""
    return _lsh_buckets_df(_t(spark, sf_dir, "embeddings"))


_IVF_K = 8        # coarse centroids (seed vectors vec_id < _IVF_K)
_IVF_NPROBE = 2   # cells searched per query


def _quant_int64(mat):
    import numpy as np
    return np.floor(np.asarray(mat, dtype=np.float64)
                    * 1_000_000 + 0.5).astype(np.int64)


def _cos_e4_to_seeds(w, ws):
    """floor(cos*10000+0.5) of quantized int64 vectors — same op order
    as the DuckDB twin (num / (da*db) * 10000 + 0.5), every term exact
    (integer sums < 2^53), so the e4 integers are bit-identical."""
    import numpy as np
    num = (w @ ws.T).astype(np.float64)
    den = np.outer(np.sqrt((w * w).sum(axis=1).astype(np.float64)),
                   np.sqrt((ws * ws).sum(axis=1).astype(np.float64)))
    return np.floor(num / den * 10000 + 0.5).astype(np.int64)


def _cos_e4_rows(u: pd.Series, v: pd.Series) -> pd.Series:
    """Row-wise floor(cos*10000+0.5) of two embedding columns, quantized
    and computed like _cos_e4_to_seeds (same op order as the DuckDB
    twins)."""
    import numpy as np
    a, c = _quant_int64(list(u)), _quant_int64(list(v))
    num = (a * c).sum(axis=1).astype(np.float64)     # exact < 2^53
    den = (np.sqrt((a * a).sum(axis=1).astype(np.float64))
           * np.sqrt((c * c).sum(axis=1).astype(np.float64)))
    return pd.Series(np.floor(num / den * 10000 + 0.5).astype(np.int64))


# Deterministic in fact, but marked otherwise so Catalyst evaluates it
# once per row: the optimizer inlines a deterministic aliased column
# into every filter and projection above it, and each inlined copy
# becomes its own ArrowEvalPython, so embedding_near_dup's ">= threshold"
# filter and its projection would each run the UDF over every pair.
_cos_e4 = F.pandas_udf(_cos_e4_rows, LongType()).asNondeterministic()


_BOILER_DF_FRAC = 0.5   # span text in ≥50% of docs = template/boilerplate


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content extraction over the interleaved span table (north
    rule: HTML boilerplate strip re-expressed relationally): a span
    text occurring in ≥50% of documents is site chrome (headers,
    footers, nav — the line-frequency heuristic of CCNet/boilerpipe at
    exact-match granularity); those spans are dropped and the survivors
    renumbered per document.  Scale shape: the document-frequency agg
    shuffles xxhash64(text) — 8 bytes — instead of the span bytes; the
    candidate hash set is tiny, so resolving it back to exact texts is
    a broadcast semi-join plus a recount over only the candidate spans
    (which also makes a hash collision harmless: the second pass
    recomputes the document frequency per exact TEXT, so a rare span
    colliding with a boilerplate span cannot be dropped).  The final
    anti-join broadcasts the boiler text set; no UDF — pure Catalyst."""
    docs = _read(spark, _qfx.webdocs_path())
    s = (docs.select("doc_id", F.posexplode("spans").alias("pos", "s"))
         .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"))
    thresh = int(_BOILER_DF_FRAC * _qfx.BOILER_N_DOCS)
    cand_h = (s.select(F.xxhash64("text").alias("th"), "doc_id")
              .groupBy("th")
              .agg(F.count_distinct("doc_id").alias("df"))
              .filter(F.col("df") >= thresh).select("th"))
    boiler = (s.withColumn("th", F.xxhash64("text"))
              .join(F.broadcast(cand_h), "th", "semi")
              .groupBy("text")
              .agg(F.count_distinct("doc_id").alias("df"))
              .filter(F.col("df") >= thresh))
    kept = s.join(F.broadcast(boiler.select("text")), "text", "anti")
    w = Window.partitionBy("doc_id").orderBy("offset")
    return (kept.withColumn("order",
                            (F.row_number().over(w) - 1).cast("long"))
            .select("doc_id", "kind", "text", "media_ref", "order"))


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN — the second scale path next to LSH: every vector
    is assigned to its nearest of _IVF_K coarse centroids (one
    broadcast int64 matmul per Arrow batch — at 10^12 vectors this is
    the only full pass, and cells become partition keys so a query
    touches _IVF_NPROBE partitions instead of the corpus); each query
    then searches only its _IVF_NPROBE nearest cells with the exact
    cosine.  Centroid seeds are the vec_id < _IVF_K vectors
    (deterministic — no k-means iterations, so the DuckDB twin can
    replicate the assignment bit-for-bit with the same quantized
    integer arithmetic; a trained quantizer would drop in as a
    different seed table).  Ties break toward the lower centroid id in
    both engines.  Top-5 per query, self excluded, recall vs the
    brute-force baseline visible by comparing with ann_cosine_topk."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seeds = (e.filter(F.col("vec_id") < _IVF_K).orderBy("vec_id")
             .collect())
    seed_ids = np.array([r.vec_id for r in seeds], dtype=np.int64)
    ws = _quant_int64([r.embedding for r in seeds])

    assign_schema = StructType([
        StructField("vec_id", LongType()),
        StructField("centroid_id", LongType()),
    ])

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            w = _quant_int64(list(pdf["embedding"]))
            e4 = _cos_e4_to_seeds(w, ws)
            # argmax picks the FIRST max → lowest centroid id on ties,
            # mirroring the twin's ORDER BY cos DESC, centroid_id ASC
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "centroid_id": seed_ids[e4.argmax(axis=1)],
            })

    assignments = _spread(e, "vec_id").mapInPandas(assign, assign_schema)

    # probe table: 8x8 integer cosines on the driver (seeds only)
    e4s = _cos_e4_to_seeds(ws, ws)
    probe_rows = []
    for qi, q in enumerate(seed_ids):
        order = sorted(range(len(seed_ids)),
                       key=lambda j: (-e4s[qi, j], seed_ids[j]))
        probe_rows += [(int(q), int(seed_ids[j]))
                       for j in order[:_IVF_NPROBE]]
    probes = spark.createDataFrame(probe_rows,
                                   "query_id long, centroid_id long")

    cand = (probes.join(assignments, "centroid_id")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id"))
    eq = e.select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("emb_q"))
    ev = e.select("vec_id", F.col("embedding").alias("emb_v"))
    pairs = cand.join(F.broadcast(eq), "query_id").join(ev, "vec_id")

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_e4"),
                                               F.asc("vec_id"))
    return (pairs.withColumn("cosine_e4", _cos_e4("emb_q", "emb_v"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    F.col("rk").cast("long").alias("rk"), "cosine_e4"))


_NEAR_DUP_COSINE_E4 = 2000   # cosine ≥ 0.2 as integer ten-thousandths
_NEAR_DUP_PLANES = 16        # 2 bands × 8 planes
_EMB_BUCKET_CAP = 50         # same rationale as _MINHASH_BUCKET_CAP


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup — the LSH SCALE PATH end-to-end:
    candidate pairs come only from shared (band, bucket) LSH cells
    (n² collapses to Σ per-bucket n_b²), then each candidate is
    confirmed with the exact cosine ≥ threshold.  Two scale guards:
    16 planes in 2 banded groups (256× smaller buckets than 8 planes,
    recall preserved by OR-ing bands) and a per-cell cap of
    _EMB_BUCKET_CAP — a single giant near-dup cluster would otherwise
    square inside its bucket (same hazard the minhash query caps).
    The cosine is computed on integer-millionth-quantized vectors
    (int64 dot products are exact at 64 dims — every partial sum
    < 2^53) and emitted as floor(c*10000+0.5) integer ten-thousandths,
    so the DuckDB twin is bit-identical: no bare round() on doubles
    (CLAUDE.md rule), no summation-order flakes."""
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cand = _capped_pairs(_lsh_bands_df(e, _NEAR_DUP_PLANES),
                         ["band", "bucket"], "vec_id",
                         _EMB_BUCKET_CAP).distinct()
    ea = e.select(F.col("vec_id").alias("vec_a"),
                  F.col("embedding").alias("emb_a"))
    eb = e.select(F.col("vec_id").alias("vec_b"),
                  F.col("embedding").alias("emb_b"))
    pairs = cand.join(ea, "vec_a").join(eb, "vec_b")
    return (pairs.withColumn("cosine_e4", _cos_e4("emb_a", "emb_b"))
            .filter(F.col("cosine_e4") >= _NEAR_DUP_COSINE_E4)
            .select("vec_a", "vec_b", "cosine_e4"))


_THUMB_MAX_DIM = 64


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize plumbing: decode each opaque binary image,
    INTER_AREA-resize to fit a 64px box preserving aspect ratio, and
    emit the ACTUAL array dimensions produced.  The DuckDB twin derives
    the expected dimensions from the fixture's compose-time golden
    width/height with the identical floor(x+0.5) arithmetic — a decoder
    or resampler that produces the wrong raster shape fails the hash.
    (Pixel-level resize math is golden-tested in test_kernels; no SQL
    engine can decode PNGs to check pixels.)  Runs through the
    pipeline's one media scan: the images never cross the JVM."""
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)

    from fin_ocr_sdk_spark.plans.pipeline import scan_media
    schema = StructType([
        StructField("media_ref", StringType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
    ])

    def thumb_dims(rows, templates):
        import numpy as np

        from fin_ocr_sdk_spark.operators import kernels as K
        from fin_ocr_sdk_spark.sources import codecs
        for ref, fmt, img in rows:
            arr = codecs.decode_image(img, fmt)
            h, w = arr.shape
            scale = _THUMB_MAX_DIM / max(w, h)
            out = K.resize_area(arr, (int(np.floor(w * scale + 0.5)),
                                      int(np.floor(h * scale + 0.5))))
            yield ref, out.shape[1], out.shape[0]

    return scan_media(_fxdf(spark, "media"), thumb_dims, schema)


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: typed metadata over opaque binary media —
    dimensions DECODED from the bytes inside a vectorized UDF, then
    verified against the fixture's compose-time golden width/height
    columns by the DuckDB twin (which never parses the binary).  Runs
    through the pipeline's one media scan, which reads only
    (media_ref, format, image): the dimensions come from the bytes
    alone."""
    from pyspark.sql.types import (IntegerType, StringType, StructField,
                                   StructType)

    from fin_ocr_sdk_spark.plans.pipeline import scan_media
    schema = StructType([
        StructField("media_ref", StringType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", IntegerType()),
    ])

    def dims(rows, templates):
        from fin_ocr_sdk_spark.sources import codecs
        for ref, fmt, img in rows:
            h, w = codecs.decode_image(img, fmt).shape
            yield ref, fmt, w, h, len(img)

    return scan_media(_fxdf(spark, "media"), dims, schema)


def q_x9_to_micr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 → MICR → CheckInfo end-to-end (x9ToMicr src/checkUtil.ts:38-45
    composed into the MicrParser grammar src/checkUtil.ts:49-133) over
    the X9-shaped fixture table.  Composition is pure Catalyst string
    expressions (JVM-side; the aux guard mirrors JS truthiness on the
    RAW field, the trailing regexp strips ALL whitespace exactly like
    /\\s/g); the field grammar runs as the parse_micr state machine in
    one Arrow pass.  The oracle derives the expected fields RELATIONALLY
    from the X9 columns (split onUs at '/', zero-strip the check
    number), so the whole compose→tokenize→assign chain is checked
    against an independent derivation, not against itself."""
    import pandas as pd
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    x9 = _read(spark, _qfx.x9_path())
    micr_raw = F.concat(
        F.when(F.col("auxiliary_on_us") != "",
               F.concat(F.lit("U"), F.col("auxiliary_on_us"), F.lit("U"))
               ).otherwise(F.lit("")),
        F.lit("T"), F.col("payor_bank_routing_number"),
        F.col("payor_bank_check_digit"), F.lit("T"),
        # first slash only — see q_x9_compose; parity with
        # functions/micr.py:78 (on_us.replace("/", "U", 1)) no longer
        # rests on the fixture guaranteeing a single slash.
        F.regexp_replace(F.col("on_us"), "^([^/]*)/", "$1U"))
    composed = x9.select(
        "item_id", F.regexp_replace(micr_raw, "\\s", "").alias("micr"))

    schema = StructType([
        StructField("item_id", LongType()),
        StructField("micr", StringType()),
        StructField("routing_number", StringType()),
        StructField("account_number", StringType()),
        StructField("check_number", StringType()),
    ])

    def parse_batches(it):
        from fin_ocr_sdk_spark.functions.micr import parse_micr
        for pdf in it:
            infos = [parse_micr(s) for s in pdf["micr"]]
            yield pd.DataFrame({
                "item_id": pdf["item_id"],
                "micr": pdf["micr"],
                "routing_number": [i.routing_number for i in infos],
                "account_number": [i.account_number for i in infos],
                "check_number": [i.check_number for i in infos],
            })

    return composed.mapInPandas(parse_batches, schema)


#: recall@5 floor (integer ten-thousandths) the IVF scale path must
#: clear for EVERY query vector — encoded in the query itself so a
#: recall regression drops rows out of the result and fails the
#: oracle row-count compare (see test_ann_recall_floor).  Measured
#: minima on the driver embeddings: 8000 (sf0.001), 6000 (sf0.01),
#: 10000 (sf0.1) — the floor sits below all of them with margin.
_ANN_RECALL_FLOOR_E4 = 5000


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the ANN scale paths vs the brute-force baseline
    (VERDICT r3 gap: recall was observable but never asserted).
    For each query vector: `ivf` scores the nprobe-cell top-5 against
    the exact top-5 and must clear _ANN_RECALL_FLOOR_E4 (the filter is
    part of the query contract — a regression drops rows); the
    `lsh_candidates` rows score the single-band bucket candidate set
    UNFILTERED, as the measured statement of a real property: random
    hyperplane buckets are not a top-k retriever on weakly-correlated
    corpora (measured 0-40% here) — they bucket the high-cosine regime,
    which is why retrieval runs through IVF while LSH serves the
    near-dup path (q_embedding_near_dup; its planted-near-dup recall is
    asserted in test_lsh_neardup_recall_floor)."""
    bf = q_ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = (q_ann_ivf_topk(spark, sf_dir)
           .select(F.lit("ivf").alias("method"), "query_id",
                   "neighbor_id"))
    e = _t(spark, sf_dir, "embeddings")
    bk = _lsh_buckets_df(e)
    qb = (bk.filter(F.col("vec_id") < 8)
          .select(F.col("vec_id").alias("query_id"), "bucket"))
    lsh = (qb.join(bk, "bucket")
           .filter(F.col("vec_id") != F.col("query_id"))
           .select(F.lit("lsh_candidates").alias("method"), "query_id",
                   F.col("vec_id").alias("neighbor_id"))
           .distinct())

    # one candidate union + ONE left join: the brute-force subtree (a
    # full corpus-scoring pass) appears once in the plan instead of
    # once per method
    cand = ivf.unionByName(lsh).withColumn("hit", F.lit(1))
    methods = spark.createDataFrame([("ivf",), ("lsh_candidates",)],
                                    "method string")
    bfm = bf.crossJoin(F.broadcast(methods))   # 5 rows/query x methods
    j = bfm.join(cand, ["method", "query_id", "neighbor_id"], "left")
    out = (j.groupBy("method", "query_id")
           .agg((F.sum(F.coalesce(F.col("hit"), F.lit(0))) * 2000)
                .cast("long").alias("recall_e4")))
    return out.filter((F.col("method") != "ivf")
                      | (F.col("recall_e4") >= _ANN_RECALL_FLOOR_E4))


_SAMPLE_PERMILLE = 100   # 10% deterministic sample per stratum


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified subsampling — the corpus-downsampling
    op every training-data pipeline needs (seeded, reproducible across
    runs and engines, no Bernoulli RNG): keep a document iff the
    portable polynomial hash of its doc_id lands under the per-stratum
    permille threshold.  Strata here are the language column; the rate
    is uniform but the shape generalizes to per-language quotas by
    joining a rate table.  The bucket folds the polynomial hash over
    sha256(doc_id) HEX (lowercase in both engines) rather than the raw
    id: short numeric ids give the bare fold poor avalanche (measured
    2% keep at a 10% threshold), while the crypto digest mixes fully
    and keeps the fold portable to the SQL twin.  Scale shape: pure
    Catalyst projection + filter (no shuffle at all), and the sample
    decision is a function of the row alone, so it distributes
    trivially at 10^12 docs."""
    d = _t(spark, sf_dir, "documents")
    digest = F.sha2(F.col("doc_id").cast("string"), 256)
    chars = F.filter(F.split(digest, ""), lambda c: c != F.lit(""))
    h = F.aggregate(
        chars, F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % _HASH_P)
    return (d.select("doc_id", "lang", (h % 1000).alias("bucket"))
            .filter(F.col("bucket") < _SAMPLE_PERMILLE)
            .select("doc_id", "lang", "bucket"))


def q_pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text layer over opaque binary (north rule: PDF/layout
    parse): per-page text recovered from the content streams
    (FlateDecode + text-operator replay, sources/pdf.py) inside one
    Arrow pass; the oracle reads the compose-time golden pages the
    extractor never sees (only (pdf_id, pdf) is selected into the
    UDF)."""
    import pandas as pd
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)
    schema = StructType([
        StructField("pdf_id", StringType()),
        StructField("page", LongType()),
        StructField("text", StringType()),
    ])

    def extract(it):
        from fin_ocr_sdk_spark.sources.pdf import extract_pdf_text
        for pdf in it:
            rows = {"pdf_id": [], "page": [], "text": []}
            for pid, blob in zip(pdf["pdf_id"], pdf["pdf"]):
                for pg, text in enumerate(extract_pdf_text(bytes(blob))):
                    rows["pdf_id"].append(pid)
                    rows["page"].append(pg)
                    rows["text"].append(text)
            yield pd.DataFrame(rows)

    docs = (_read(spark, _qfx.pdf_docs_path())
            .select("pdf_id", "pdf"))
    return docs.mapInPandas(extract, schema)


def q_html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM-heuristic main-content extraction (north rule: DOM
    heuristics next to the exact-match boilerplate strip): chrome tags
    and chrome-keyword class/id containers dropped at any depth,
    blocks flattened, whitespace normalized (operators/html_main.py).
    Only (page_id, html) reaches the UDF; the oracle reads the
    compose-time golden."""
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType
    schema = StructType([
        StructField("page_id", StringType()),
        StructField("main_text", StringType()),
    ])

    def extract(it):
        from fin_ocr_sdk_spark.operators.html_main import \
            extract_main_text
        for pdf in it:
            yield pd.DataFrame({
                "page_id": pdf["page_id"],
                "main_text": [extract_main_text(h)
                              for h in pdf["html"]],
            })

    docs = (_read(spark, _qfx.html_docs_path())
            .select("page_id", "html"))
    return docs.mapInPandas(extract, schema)


_PACK_CAPACITY = 512   # context-window token budget per packed bin


_PACK_SHARDS = 8  # bounded hash shards per language; production scales
#                   this with corpus size so no task's shard exceeds a
#                   few hundred MB of (doc_id, n_tokens) rows.

# Portable multiplicative shard hash (MINSTD constants): overflow-safe
# for any BIGINT doc_id because (doc_id % 2^31-1) * 48271 < 2^47, and
# expressible identically in Spark SQL and DuckDB integer arithmetic.
_SHARD_SQL = ("((doc_id % 2147483647) * 48271 % 2147483647) % "
              + str(_PACK_SHARDS))


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing — the LLM-training step that concatenates
    documents into fixed context windows: within each (lang, shard)
    group, documents are taken in doc_id order and a new bin starts
    whenever adding the next document would exceed _PACK_CAPACITY
    tokens (an oversized document occupies its own bin).  The greedy
    reset is inherently sequential WITHIN a group, so it runs as a
    per-group scan inside applyInPandas — and the group key is
    (lang, shard) with shard = hash(doc_id) % _PACK_SHARDS, NOT bare
    lang: at 10^12 docs the largest language is ~half the corpus, and
    a bare-lang key would make it one sequential task.  Bounded hash
    shards pack independently and in parallel; the scan is O(shard)
    with shard size bounded by corpus/_PACK_SHARDS per language.  The
    DuckDB twin replays the same recurrence with a recursive CTE per
    (lang, shard), so the bin assignment is checked step-for-step."""
    import pandas as pd
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    # NOT spread: the (lang, shard) groupBy exchange already spreads
    # the pack kernel, and an A/B at both scales measured the extra
    # parallelizing text shuffle a clear loss at sf0.1 (0.95 vs 0.56 s)
    # and a wash at sf1.0 — the tokenizing projection is cheap enough
    # to stay in the scan task.
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = F.size(F.split(F.trim(F.col("text")), "\\s+")).cast("long")
    shard = ((F.col("doc_id") % F.lit(2147483647)) * F.lit(48271)
             % F.lit(2147483647) % F.lit(_PACK_SHARDS)).cast("long")
    base = d.select("doc_id", "lang", shard.alias("shard"),
                    toks.alias("n_tokens"))

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("shard", LongType()),
        StructField("n_tokens", LongType()),
        StructField("bin", LongType()),
    ])

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins = []
        cur_bin, cum = 0, 0
        for t in pdf["n_tokens"]:
            if cum and cum + t > _PACK_CAPACITY:
                cur_bin += 1
                cum = 0
            cum += t
            bins.append(cur_bin)
        pdf["bin"] = pd.Series(bins, dtype="int64")
        return pdf[["doc_id", "lang", "shard", "n_tokens", "bin"]]

    return base.groupBy("lang", "shard").applyInPandas(pack, schema)


def _sequence_packing_oracle() -> str:
    """Recursive-CTE twin of q_sequence_packing: same greedy reset
    recurrence, one linear recursion per (lang, shard) group, with the
    identical MINSTD shard hash (integer-exact in both engines)."""
    return f"""
        WITH RECURSIVE o AS (
          SELECT doc_id, lang,
                 ({_SHARD_SQL})::BIGINT AS shard,
                 len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT
                     AS n_tokens,
                 row_number() OVER (PARTITION BY lang, ({_SHARD_SQL})
                                    ORDER BY doc_id) AS rk
          FROM documents),
        r AS (
          SELECT lang, shard, rk, doc_id, n_tokens,
                 0::BIGINT AS bin, n_tokens AS cum
          FROM o WHERE rk = 1
          UNION ALL
          SELECT o.lang, o.shard, o.rk, o.doc_id, o.n_tokens,
                 CASE WHEN r.cum + o.n_tokens > {_PACK_CAPACITY}
                      THEN r.bin + 1 ELSE r.bin END,
                 CASE WHEN r.cum + o.n_tokens > {_PACK_CAPACITY}
                      THEN o.n_tokens ELSE r.cum + o.n_tokens END
          FROM r JOIN o ON o.lang = r.lang AND o.shard = r.shard
                       AND o.rk = r.rk + 1)
        SELECT doc_id, lang, shard, n_tokens, bin FROM r
    """


_QUANTILES = (50, 90, 99)


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics with EXACT discrete quantiles of
    the token count (p50/p90/p99 as the value at rank ceil(p*n) in
    sorted order — integer arithmetic identical in both engines; no
    float interpolation, which differs in the last ulp across engines).
    Scale shape: the only full-data shuffle keys on (lang, n_tokens)
    — a high-cardinality composite with map-side combine — and the
    rank windows run over the distinct-value histogram, whose size is
    bounded by the number of distinct token counts, not documents.  No
    window or group is partitioned by a bare low-cardinality key, so
    the plan survives a corpus where one language is half the data.
    The approx path would swap in approx_percentile without changing
    the output contract."""
    # NOT spread: the tokenizing projection feeds a (lang, n_tokens)
    # histogram agg whose map side is already cheap — an A/B at sf1.0
    # measured the parallelizing text shuffle costing more than the
    # single-task split it saves (0.67 vs 0.37 s), unlike the opaque
    # Python kernels where _spread pays for itself.
    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), "\\s+")).cast("long")
    base = d.select("lang", toks.alias("n_tokens"))
    # Distributable shape: aggregate to the (lang, n_tokens) -> cnt
    # histogram first (map-side combine, shuffle key has the full
    # (lang, n_tokens) cardinality so no single task sees a whole
    # language), then rank over the TINY distinct-value table.  The
    # value at rank ceil(p*n/100) equals the smallest n_tokens whose
    # cumulative count reaches that rank — identical to the row-level
    # row_number() contract the DuckDB twin uses, without ever sorting
    # a language's full row set on one task.
    counts = (base.groupBy("lang", "n_tokens")
              .agg(F.count(F.lit(1)).alias("cnt")))
    w_cum = (Window.partitionBy("lang").orderBy("n_tokens")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_all = Window.partitionBy("lang")
    cum = (counts
           .withColumn("cum", F.sum("cnt").over(w_cum))
           .withColumn("n", F.sum("cnt").over(w_all)))
    picks = [
        F.min(F.when(
            F.col("cum") >= F.ceil(F.col("n") * F.lit(p) / 100.0),
            F.col("n_tokens"))).alias(f"p{p}_tokens")
        for p in _QUANTILES]
    return (cum.groupBy("lang")
            .agg(F.sum("cnt").alias("n_docs"), *picks))

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # OCR core
        "micr_extract_spans": q_micr_extract_spans,
        "micr_parse_cases": q_micr_parse_cases,
        "contour_filter": q_contour_filter,
        "contour_sort_topk": q_contour_sort_topk,
        "contour_zscore": q_contour_zscore,
        "contour_bounding_rect": q_contour_bounding_rect,
        "char_best_choice": q_char_best_choice,
        "char_top3": q_char_top3,
        "line_value_score": q_line_value_score,
        # engine breadth over driver tables
        "pricing_summary": q_pricing_summary,
        "top_orders_per_customer": q_top_orders_per_customer,
        "events_argmax": q_events_argmax,
        "regexp_scalars": q_regexp_scalars,
        "range_join": q_range_join,
        "x9_compose": q_x9_compose,
        "x9_to_micr": q_x9_to_micr,
        "shipping_priority": q_shipping_priority,
        "part_size_distribution": q_part_size_distribution,
        # training-data ops
        "dedup_exact": q_dedup_exact,
        "stratified_sample": q_stratified_sample,
        "corpus_stats": q_corpus_stats,
        "sequence_packing": q_sequence_packing,
        "token_count": q_token_count,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "minhash_dedup": q_minhash_dedup,
        "simhash": q_simhash,
        "doc_fingerprint": q_doc_fingerprint,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_buckets": q_ann_lsh_buckets,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_recall": q_ann_recall,
        "boilerplate_strip": q_boilerplate_strip,
        "pdf_text_extract": q_pdf_text_extract,
        "html_main_content": q_html_main_content,
        "media_resize": q_media_resize,
        "embedding_near_dup": q_embedding_near_dup,
        "media_metadata": q_media_metadata,
    }


# ---- generated portable-hash oracle twins (identical constants and
# ---- arithmetic to the pandas-UDF implementations above)

_POLY_SQL = ("list_reduce(list_prepend(0::BIGINT, list_transform("
             "string_split({col}, ''), c -> ascii(c)::BIGINT)), "
             "(acc, c) -> (acc * {m} + c) % " + str(_HASH_P) + ")")


def _simhash_oracle() -> str:
    hash_exprs = ",\n                 ".join(
        _POLY_SQL.format(col="tok", m=m) + f" AS h{k}"
        for k, m in enumerate(_SIMHASH_MULTS))
    terms = " +\n               ".join(
        f"(CASE WHEN sum(CASE WHEN (h{i // 16} >> {i % 16}) & 1 = 1"
        " THEN 1 ELSE -1 END) > 0 THEN "
        + ("(-9223372036854775807 - 1)" if i == 63
           else f"(1::BIGINT << {i})")
        + " ELSE 0 END)"
        for i in range(64))
    return f"""
        WITH tok AS (
          SELECT doc_id, unnest(list_distinct(
                   regexp_split_to_array(lower(trim(text)), '\\s+'))) AS tok
          FROM documents),
        h AS (SELECT doc_id,
                 {hash_exprs}
              FROM tok)
        SELECT doc_id,
               CAST({terms} AS BIGINT) AS simhash64
        FROM h GROUP BY doc_id
    """


def _minhash_oracle() -> str:
    mins = ",\n                 ".join(
        f"min((hg * {a} + {b}) % {_HASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(zip(_MINHASH_A, _MINHASH_B)))
    band_selects = "\n          UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, "
        f"(((((mh{4 * bi} * 31 + mh{4 * bi + 1}) % {_HASH_P}) * 31"
        f" + mh{4 * bi + 2}) % {_HASH_P} * 31 + mh{4 * bi + 3})"
        f" % {_HASH_P}) AS sig FROM mins"
        for bi in range(_MINHASH_BANDS))
    return f"""
        WITH tok AS (
          SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\\s+') AS t
          FROM documents),
        g AS (
          SELECT DISTINCT doc_id,
                 t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
          FROM tok, UNNEST(range(1, len(t) - 1)) AS u(i)
          WHERE len(t) >= 3),
        h AS (SELECT doc_id, {_POLY_SQL.format(col="gram", m=31)} AS hg
              FROM g),
        mins AS (SELECT doc_id,
                 {mins}
              FROM h GROUP BY doc_id),
        bands AS (
          {band_selects}),
        small AS (SELECT band, sig FROM bands
                  GROUP BY band, sig
                  HAVING count(*) <= {_MINHASH_BUCKET_CAP})
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.sig = b.sig
                    AND a.doc_id < b.doc_id
        JOIN small s ON a.band = s.band AND a.sig = s.sig
    """


def _lsh_bucket_ctes() -> str:
    """Shared bucket CTEs (x, p, bk) — exact integer arithmetic
    mirroring _lsh_buckets_df."""
    projs = ",\n                 ".join(
        "sum(CAST(floor(v::DOUBLE * 1000000 + 0.5) AS BIGINT) * "
        f"(CASE WHEN ((i - 1) * 2654435761 + {b * 40503}) % 97 < 48"
        f" THEN 1 ELSE -1 END)) AS p{b}"
        for b in range(8))
    bucket = " + ".join(
        f"(CASE WHEN p{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(8))
    return f"""
        x AS (
          SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                 unnest(embedding) AS v
          FROM embeddings),
        p AS (SELECT vec_id,
                 {projs}
              FROM x GROUP BY vec_id),
        bk AS (SELECT vec_id, CAST({bucket} AS BIGINT) AS bucket FROM p)
    """


def _ann_lsh_oracle() -> str:
    return f"""
        WITH {_lsh_bucket_ctes()}
        SELECT vec_id, bucket FROM bk
    """


def _near_dup_oracle() -> str:
    """Twin of q_embedding_near_dup: 16-plane 2-band LSH with the
    _EMB_BUCKET_CAP guard, then the exact integer-quantized cosine —
    int64 dot products are < 2^53 so list_dot_product over the
    quantized DOUBLE lists is exact regardless of summation order,
    and floor(c*10000+0.5) matches the Spark UDF bit-for-bit."""
    projs = ",\n                 ".join(
        "sum(CAST(floor(v::DOUBLE * 1000000 + 0.5) AS BIGINT) * "
        f"(CASE WHEN ((i - 1) * 2654435761 + {b * 40503}) % 97 < 48"
        f" THEN 1 ELSE -1 END)) AS p{b}"
        for b in range(_NEAR_DUP_PLANES))
    band_rows = "\n          UNION ALL\n".join(
        f"          SELECT vec_id, CAST({k} AS BIGINT) AS band, CAST("
        + " + ".join(f"(CASE WHEN p{k * 8 + j} > 0 THEN {1 << j} ELSE 0"
                     f" END)" for j in range(8))
        + " AS BIGINT) AS bucket FROM p"
        for k in range(_NEAR_DUP_PLANES // 8))
    return f"""
        WITH x AS (
          SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                 unnest(embedding) AS v
          FROM embeddings),
        p AS (SELECT vec_id,
                 {projs}
              FROM x GROUP BY vec_id),
        bands AS (
{band_rows}),
        small AS (SELECT band, bucket FROM bands
                  GROUP BY band, bucket
                  HAVING count(*) <= {_EMB_BUCKET_CAP}),
        capped AS (SELECT bands.* FROM bands
                   JOIN small USING (band, bucket)),
        cand AS (
          SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM capped a JOIN capped b
            ON a.band = b.band AND a.bucket = b.bucket
               AND a.vec_id < b.vec_id),
        qv AS (
          SELECT vec_id,
                 [CAST(floor(v::DOUBLE * 1000000 + 0.5) AS BIGINT)
                  FOR v IN embedding] AS w
          FROM embeddings),
        scored AS (
          SELECT vec_a, vec_b,
                 CAST(floor(
                   list_dot_product(wa.w::DOUBLE[], wb.w::DOUBLE[])
                   / (sqrt(list_dot_product(wa.w::DOUBLE[],
                                            wa.w::DOUBLE[]))
                      * sqrt(list_dot_product(wb.w::DOUBLE[],
                                              wb.w::DOUBLE[])))
                   * 10000 + 0.5) AS BIGINT) AS cosine_e4
          FROM cand
          JOIN qv wa ON vec_a = wa.vec_id
          JOIN qv wb ON vec_b = wb.vec_id)
        SELECT vec_a, vec_b, cosine_e4 FROM scored
        WHERE cosine_e4 >= {_NEAR_DUP_COSINE_E4}
    """


def _ann_ivf_oracle() -> str:
    """Twin of q_ann_ivf_topk: identical quantized integer cosine
    (exact — see _near_dup_oracle), seed centroids vec_id < _IVF_K,
    nearest-cell assignment and _IVF_NPROBE probes with the same
    (cos DESC, centroid_id ASC) tie-break, top-5 per query."""
    cos = ("CAST(floor(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
           " / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
           " * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
           " * 10000 + 0.5) AS BIGINT)")
    return f"""
        WITH qv AS (
          SELECT vec_id,
                 [CAST(floor(v::DOUBLE * 1000000 + 0.5) AS BIGINT)
                  FOR v IN embedding] AS w
          FROM embeddings),
        seeds AS (SELECT vec_id AS centroid_id, w FROM qv
                  WHERE vec_id < {_IVF_K}),
        assign AS (
          SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, s.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {cos.format(a="v.w", b="s.w")} DESC,
                                s.centroid_id ASC) AS rk
            FROM qv v CROSS JOIN seeds s) t
          WHERE rk = 1),
        probes AS (
          SELECT query_id, centroid_id FROM (
            SELECT q.centroid_id AS query_id, s.centroid_id,
                   row_number() OVER (PARTITION BY q.centroid_id
                       ORDER BY {cos.format(a="q.w", b="s.w")} DESC,
                                s.centroid_id ASC) AS rk
            FROM seeds q CROSS JOIN seeds s) t
          WHERE rk <= {_IVF_NPROBE}),
        cand AS (
          SELECT p.query_id, a.vec_id
          FROM probes p JOIN assign a USING (centroid_id)
          WHERE a.vec_id <> p.query_id),
        scored AS (
          SELECT c.query_id, c.vec_id AS neighbor_id,
                 {cos.format(a="wq.w", b="wv.w")} AS cosine_e4
          FROM cand c
          JOIN qv wq ON c.query_id = wq.vec_id
          JOIN qv wv ON c.vec_id = wv.vec_id)
        SELECT query_id, neighbor_id, rk, cosine_e4 FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine_e4 DESC, neighbor_id ASC) AS rk
          FROM scored) t
        WHERE rk <= 5
    """


def _x9_oracle() -> str:
    """Twin of q_x9_to_micr: the micr string via the same composition
    SQL, but the parse fields derived INDEPENDENTLY from the raw X9
    columns (routing = routing||checkDigit; account = digits before the
    onUs '/'; check = zero-stripped aux when present else the onUs
    check part) — an independent relational derivation of what the
    state machine must produce on X9-shaped input."""
    return f"""
        WITH x AS (
          SELECT item_id,
                 payor_bank_routing_number, payor_bank_check_digit,
                 regexp_replace(
                   (CASE WHEN auxiliary_on_us <> '' THEN
                        'U' || auxiliary_on_us || 'U' ELSE '' END)
                   || 'T' || payor_bank_routing_number
                   || payor_bank_check_digit || 'T'
                   || regexp_replace(on_us, '/', 'U'),
                   '\\s', '', 'g') AS micr,
                 regexp_replace(auxiliary_on_us, '\\s', '', 'g') AS aux,
                 regexp_replace(on_us, '\\s', '', 'g') AS onus
          FROM read_parquet('{_qfx.x9_path()}'))
        SELECT item_id, micr,
               payor_bank_routing_number || payor_bank_check_digit
                   AS routing_number,
               split_part(onus, '/', 1) AS account_number,
               CASE WHEN aux <> '' THEN regexp_replace(aux, '^0+', '')
                    WHEN strpos(onus, '/') > 0 THEN
                        regexp_replace(split_part(onus, '/', 2), '^0+', '')
                    ELSE '' END AS check_number
        FROM x
    """


def _ann_recall_oracle() -> str:
    """Twin of q_ann_recall: brute-force top-5, IVF top-5 (identical
    CTE chain to _ann_ivf_oracle) and single-band LSH candidates
    (identical to _ann_lsh_oracle) composed into per-query recall@5
    counts, all in one flat WITH."""
    cos = ("CAST(floor(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
           " / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
           " * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
           " * 10000 + 0.5) AS BIGINT)")
    return f"""
        WITH bfq AS (
          SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 8),
        bfs AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 list_cosine_similarity(
                     e.embedding::DOUBLE[], q.qv::DOUBLE[]) AS sim
          FROM embeddings e, bfq q WHERE e.vec_id <> q.query_id),
        bf AS (
          SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id ASC) rk
            FROM bfs) t
          WHERE rk <= 5),
        qv AS (
          SELECT vec_id,
                 [CAST(floor(v::DOUBLE * 1000000 + 0.5) AS BIGINT)
                  FOR v IN embedding] AS w
          FROM embeddings),
        seeds AS (SELECT vec_id AS centroid_id, w FROM qv
                  WHERE vec_id < {_IVF_K}),
        assign AS (
          SELECT vec_id, centroid_id FROM (
            SELECT v.vec_id, s.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {cos.format(a="v.w", b="s.w")} DESC,
                                s.centroid_id ASC) AS rk
            FROM qv v CROSS JOIN seeds s) t
          WHERE rk = 1),
        probes AS (
          SELECT query_id, centroid_id FROM (
            SELECT q.centroid_id AS query_id, s.centroid_id,
                   row_number() OVER (PARTITION BY q.centroid_id
                       ORDER BY {cos.format(a="q.w", b="s.w")} DESC,
                                s.centroid_id ASC) AS rk
            FROM seeds q CROSS JOIN seeds s) t
          WHERE rk <= {_IVF_NPROBE}),
        candv AS (
          SELECT p.query_id, a.vec_id
          FROM probes p JOIN assign a USING (centroid_id)
          WHERE a.vec_id <> p.query_id),
        ivfs AS (
          SELECT c.query_id, c.vec_id AS neighbor_id,
                 {cos.format(a="wq.w", b="wv.w")} AS cosine_e4
          FROM candv c
          JOIN qv wq ON c.query_id = wq.vec_id
          JOIN qv wv ON c.vec_id = wv.vec_id),
        ivf AS (
          SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine_e4 DESC, neighbor_id ASC) AS rk
            FROM ivfs) t
          WHERE rk <= 5),
        {_lsh_bucket_ctes()},
        qb AS (SELECT vec_id AS query_id, bucket FROM bk
               WHERE vec_id < 8),
        lshc AS (
          SELECT DISTINCT qb.query_id, bk.vec_id AS neighbor_id
          FROM qb JOIN bk ON qb.bucket = bk.bucket
          WHERE bk.vec_id <> qb.query_id),
        rec AS (
          SELECT 'ivf' AS method, b.query_id,
                 CAST(2000 * count(i.neighbor_id) AS BIGINT) AS recall_e4
          FROM bf b LEFT JOIN ivf i
            ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
          GROUP BY b.query_id
          UNION ALL
          SELECT 'lsh_candidates' AS method, b.query_id,
                 CAST(2000 * count(l.neighbor_id) AS BIGINT) AS recall_e4
          FROM bf b LEFT JOIN lshc l
            ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
          GROUP BY b.query_id)
        SELECT method, query_id, recall_e4 FROM rec
        WHERE method <> 'ivf' OR recall_e4 >= {_ANN_RECALL_FLOOR_E4}
    """


def oracle_sql() -> dict[str, str]:
    _fixtures()  # make sure fixture parquet exists before DuckDB reads it
    fx = _fx
    return {
        "micr_extract_spans": f"""
            SELECT doc_id, kind, text, media_ref, "order"
            FROM read_parquet('{fx("expected_spans")}')
        """,
        "micr_parse_cases": f"""
            SELECT case_id, routing_number, account_number, check_number
            FROM read_parquet('{fx("micr_cases")}')
        """,
        "contour_filter": f"""
            SELECT doc_id, contour_idx, x, y, w, h
            FROM read_parquet('{fx("contours")}')
            WHERE w >= 3 AND h >= 7 AND area2 >= 20 AND w <= 100
        """,
        "contour_sort_topk": f"""
            SELECT doc_id, contour_idx, y, rk FROM (
              SELECT doc_id, contour_idx, y,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY y DESC, contour_idx ASC) rk
              FROM read_parquet('{fx("contours")}')) t
            WHERE rk <= 5
        """,
        "contour_zscore": f"""
            SELECT doc_id, contour_idx,
                   CASE WHEN (area2 - avg(area2) OVER (PARTITION BY doc_id))
                             / stddev_pop(area2) OVER (PARTITION BY doc_id)
                             < -1 THEN 'S'
                        WHEN (area2 - avg(area2) OVER (PARTITION BY doc_id))
                             / stddev_pop(area2) OVER (PARTITION BY doc_id)
                             > 1 THEN 'L'
                        ELSE 'M' END AS zcat
            FROM read_parquet('{fx("contours")}')
        """,
        "contour_bounding_rect": f"""
            SELECT doc_id,
                   min(CASE WHEN size_class <> 'L' THEN x END) AS min_x,
                   max(CASE WHEN size_class <> 'L' THEN x + w END) AS max_x,
                   min(CASE WHEN size_class = 'M' THEN y END) AS min_y,
                   max(CASE WHEN size_class = 'M' THEN y + h END) AS max_y
            FROM read_parquet('{fx("contours")}')
            GROUP BY doc_id
        """,
        "char_best_choice": f"""
            SELECT doc_id, char_idx, template_value AS best_value,
                   score AS best_score FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY doc_id, char_idx
                  ORDER BY score DESC, {_TPL_ORDER_SQL} ASC) rk
              FROM read_parquet('{fx("char_scores")}')) t
            WHERE rk = 1
        """,
        "char_top3": f"""
            SELECT doc_id, char_idx, rk, template_value AS value, score
            FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY doc_id, char_idx
                  ORDER BY score DESC, {_TPL_ORDER_SQL} ASC) rk
              FROM read_parquet('{fx("char_scores")}')) t
            WHERE rk <= 3
        """,
        "line_value_score": f"""
            SELECT doc_id,
                   string_agg(best_value, '' ORDER BY char_idx)
                       AS line_value,
                   CAST(floor(avg(best_score) + 0.5) AS BIGINT)
                       AS line_score
            FROM (
              SELECT doc_id, char_idx, template_value AS best_value,
                     score AS best_score, row_number() OVER (
                  PARTITION BY doc_id, char_idx
                  ORDER BY score DESC, {_TPL_ORDER_SQL} ASC) rk
              FROM read_parquet('{fx("char_scores")}')) t
            WHERE rk = 1
            GROUP BY doc_id
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   sum(l_extendedprice) AS sum_base_price,
                   sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
                   avg(l_quantity) AS avg_qty,
                   avg(l_discount) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "top_orders_per_customer": """
            SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                         ORDER BY o_totalprice DESC, o_orderkey ASC) rk
              FROM orders) t
            WHERE rk <= 3
        """,
        "events_argmax": """
            SELECT user_id, event_id AS best_event, value AS best_value
            FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id
                  ORDER BY value DESC, event_id ASC) rk
              FROM events) t
            WHERE rk = 1
        """,
        "regexp_scalars": """
            SELECT o_orderkey,
                   regexp_replace(lpad(CAST(o_orderkey AS VARCHAR), 12, '0'),
                                  '^0+', '') AS no_leading_zeros,
                   regexp_replace(o_orderstatus, '\\s', '', 'g') AS no_spaces,
                   regexp_matches(CAST(o_orderkey AS VARCHAR),
                                  '^-?[0-9]+$') AS is_numeric
            FROM orders
        """,
        "range_join": """
            SELECT c_custkey, s_suppkey, c_nationkey AS nationkey
            FROM customer JOIN supplier
              ON c_nationkey = s_nationkey
             AND abs(c_acctbal - s_acctbal) <= 100
        """,
        "x9_compose": """
            SELECT o_orderkey,
                   regexp_replace(
                     'U' || CAST(o_orderkey AS VARCHAR) || 'U' ||
                     'T' || lpad(CAST(o_custkey AS VARCHAR), 9, '0') || 'T' ||
                     regexp_replace(CAST(o_custkey AS VARCHAR) || '/' ||
                                    CAST(o_orderkey AS VARCHAR), '/', 'U'),
                     '\\s', '', 'g') AS micr
            FROM orders
        """,
        "shipping_priority": """
            SELECT l_orderkey, revenue_cents FROM (
              SELECT l_orderkey, o_orderdate,
                     CAST(floor(sum(l_extendedprice * (1 - l_discount))
                                * 100 + 0.5) AS BIGINT) AS revenue_cents
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              WHERE c_mktsegment = 'BUILDING'
              GROUP BY l_orderkey, o_orderdate) t
            ORDER BY revenue_cents DESC, l_orderkey ASC
            LIMIT 10
        """,
        "part_size_distribution": """
            SELECT p_brand, count(DISTINCT p_size) AS n_sizes,
                   CAST(floor(avg(CAST(floor(p_retailprice * 100 + 0.5)
                                           AS BIGINT)) + 0.5) AS BIGINT)
                       AS avg_price_cents,
                   count(*) AS n_parts
            FROM part GROUP BY p_brand
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS keep_doc_id, count(*) AS n_dups
            FROM documents GROUP BY sha256(text) HAVING count(*) >= 1
        """,
        "stratified_sample": f"""
            SELECT doc_id, lang, bucket FROM (
              SELECT doc_id, lang,
                     {_POLY_SQL.format(
                         col="sha256(CAST(doc_id AS VARCHAR))",
                         m=31)} % 1000 AS bucket
              FROM documents) t
            WHERE bucket < {_SAMPLE_PERMILLE}
        """,
        "corpus_stats": f"""
            WITH base AS (
              SELECT lang,
                     len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT
                         AS n_tokens
              FROM documents),
            r AS (
              SELECT lang, n_tokens,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY n_tokens) AS rk,
                     count(*) OVER (PARTITION BY lang) AS n
              FROM base)
            SELECT lang, count(*) AS n_docs,
                   {", ".join(
                       f"max(CASE WHEN rk = ceil(n * {p} / 100.0) "
                       f"THEN n_tokens END) AS p{p}_tokens"
                       for p in _QUANTILES)}
            FROM r GROUP BY lang
        """,
        "token_count": f"""
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
                   len(regexp_extract_all(text, '{_BPE_TOKEN_RE}'))
                       AS n_bpe_tokens,
                   length(text) AS n_chars_actual,
                   length(text) - length(replace(text, ' ', '')) AS n_spaces
            FROM documents
        """,
        "text_quality": """
            SELECT doc_id,
              round((length(text) - length(regexp_replace(text,
                  '[.,;:!?]', '', 'g'))) / length(text), 4) AS punct_ratio,
              round((length(text) - length(regexp_replace(text,
                  '[0-9]', '', 'g'))) / length(text), 4) AS digit_ratio,
              round(length(text) /
                  len(regexp_split_to_array(trim(text), '\\s+')), 2)
                  AS mean_word_len,
              (length(text) >= 20 AND
               (length(text) - length(regexp_replace(text, '[.,;:!?]', '',
                'g'))) / length(text) < 0.2) AS passes_quality
            FROM documents
        """,
        "lang_id": f"""
            SELECT doc_id,
                   len(regexp_extract_all(lower(text),
                       '\\b({"|".join(_STOPWORDS)})\\b')) AS stopword_hits,
                   round(len(regexp_extract_all(lower(text),
                       '\\b({"|".join(_STOPWORDS)})\\b'))
                     / len(regexp_split_to_array(trim(lower(text)), '\\s+')),
                     4) AS stopword_ratio,
                   round(len(regexp_extract_all(lower(text),
                       '\\b({"|".join(_STOPWORDS)})\\b'))
                     / len(regexp_split_to_array(trim(lower(text)), '\\s+')),
                     4) >= 0.1 AS pred_english
            FROM documents
        """,
        "ngram_jaccard_pairs": f"""
            WITH toks AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\\s+') AS t
              FROM documents),
            grams AS (
              SELECT DISTINCT doc_id, gram
              FROM (SELECT doc_id,
                           unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                   FOR i IN range(1, greatest(len(t) - 2, 0)
                                                     + 1)]) AS gram
                    FROM toks) u),
            kept AS (
              SELECT gram FROM grams GROUP BY gram
              HAVING count(*) <= {_JACCARD_DF_CAP}),
            fgrams AS (
              SELECT g.doc_id, g.gram FROM grams g JOIN kept USING (gram))
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS shared_ngrams
            FROM fgrams a JOIN fgrams b
              ON a.gram = b.gram AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 3
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   list_reduce(
                     list_prepend(0::BIGINT,
                       [ord(c)::BIGINT
                        FOR c IN string_split(substring(text, 1, 64), '')]),
                     (acc, ch) -> (acc * 31 + ch) % 1000000007)
                   AS fingerprint
            FROM documents
        """,
        "ann_cosine_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id < 8),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(
                         e.embedding::DOUBLE[], q.qv::DOUBLE[]) AS sim
              FROM embeddings e, q WHERE e.vec_id <> q.query_id)
            SELECT query_id, neighbor_id, round(sim, 4) AS cosine FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY sim DESC, neighbor_id ASC) rk
              FROM scored) t
            WHERE rk <= 5
        """,
        "simhash": _simhash_oracle(),
        "minhash_dedup": _minhash_oracle(),
        "ann_lsh_buckets": _ann_lsh_oracle(),
        "ann_ivf_topk": _ann_ivf_oracle(),
        "ann_recall": _ann_recall_oracle(),
        "x9_to_micr": _x9_oracle(),
        "sequence_packing": _sequence_packing_oracle(),
        "pdf_text_extract": f"""
            SELECT pdf_id,
                   CAST(generate_subscripts(golden_pages, 1) - 1
                        AS BIGINT) AS page,
                   unnest(golden_pages) AS text
            FROM read_parquet('{_qfx.pdf_docs_path()}')
        """,
        "html_main_content": f"""
            SELECT page_id, golden_main AS main_text
            FROM read_parquet('{_qfx.html_docs_path()}')
        """,
        "boilerplate_strip": f"""
            WITH s AS (
              SELECT doc_id, unnest(spans, recursive:=true)
              FROM read_parquet('{_qfx.webdocs_path()}')),
            boiler AS (
              SELECT text FROM s GROUP BY text
              HAVING count(DISTINCT doc_id)
                     >= {int(_BOILER_DF_FRAC * _qfx.BOILER_N_DOCS)})
            SELECT doc_id, kind, text, media_ref,
                   CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY "offset") - 1 AS BIGINT) AS "order"
            FROM s WHERE text NOT IN (SELECT text FROM boiler)
        """,
        "embedding_near_dup": _near_dup_oracle(),
        "media_resize": f"""
            SELECT media_ref,
                   CAST(floor(width * ({_THUMB_MAX_DIM}.0
                        / greatest(width, height)) + 0.5) AS INTEGER)
                       AS out_w,
                   CAST(floor(height * ({_THUMB_MAX_DIM}.0
                        / greatest(width, height)) + 0.5) AS INTEGER)
                       AS out_h
            FROM read_parquet('{fx("media")}/*.parquet')
        """,
        "media_metadata": f"""
            SELECT media_ref, format, width, height,
                   CAST(octet_length(image) AS INTEGER) AS n_bytes
            FROM read_parquet('{fx("media")}/*.parquet')
        """,
    }
