"""Training-data pipeline operators (EXT, SURVEY.md §2B): the dataset
management layer of an LLM training pipeline — deterministic splits,
stratified sampling, sequence packing, and balanced sharding over the
``documents`` corpus.

Design notes for 100 TB:
- Split/sample assignment is a pure hash of the stable ``doc_id`` — no
  global state, no sampling RNG on the driver, embarrassingly parallel,
  reproducible across reruns and engines (the generalization of the
  reference's deterministic partition-path derivation,
  ``include/scripts/file_services/partitioner.py:7-25``: route rows by a
  pure function of the row, never by ambient state).
- Packing is per-group sequential by nature; the engine keeps the
  *groups* parallel (one ``applyInPandas`` task per language shard) and
  the per-group loop vectorized.  Chunked (concat-then-split) packing is
  pure window math and stays entirely JVM-side.
- Shard balancing orders by size so the heaviest documents spread
  round-robin — the greedy LPT approximation — with one window sort as
  the only shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..multimodal.decode import doc_range_query, media_frame, media_query
from ..registry import query

# LCG-style deterministic bucket in [0, 100): identical integer math on
# both engines (positive operands, so Spark/DuckDB `%` agree).
_SPLIT_A, _SPLIT_B = 1103515245, 12345
_SAMPLE_A, _SAMPLE_B = 2654435761, 101
_MOD = 2147483648

PACK_CAPACITY = 256


def _bucket(col, a: int, b: int):
    return ((col * F.lit(a) + F.lit(b)) % _MOD) % 100


def _bucket_sql(expr: str, a: int, b: int) -> str:
    return f"((({expr}) * {a} + {b}) % {_MOD}) % 100"


@query(
    "datapipe_split_assign",
    oracle=f"""
    SELECT
      CASE WHEN {_bucket_sql('doc_id', _SPLIT_A, _SPLIT_B)} < 80 THEN 'train'
           WHEN {_bucket_sql('doc_id', _SPLIT_A, _SPLIT_B)} < 90 THEN 'valid'
           ELSE 'test' END AS split,
      COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      MIN(doc_id) AS min_doc,
      MAX(doc_id) AS max_doc
    FROM documents
    GROUP BY 1
    ORDER BY split
    """,
)
def datapipe_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split: the bucket is a pure
    LCG hash of ``doc_id`` — reproducible, shuffle-free row routing (each
    task splits its own rows; only the audit group-by shuffles)."""
    docs = load_table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"), _SPLIT_A, _SPLIT_B)
    split = (
        F.when(b < 80, "train").when(b < 90, "valid").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "n_chars", "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


@query(
    "datapipe_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_bucket_sql('doc_id', _SAMPLE_A, _SAMPLE_B)} < 20
    ORDER BY doc_id
    """,
)
def datapipe_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% sample: hash-bucket filter instead of RNG
    sampling, so the sample is stable across reruns, engines, and
    repartitioning — the property training-data pipelines need for
    reproducible ablations.  Pure filter: no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    keep = _bucket(F.col("doc_id"), _SAMPLE_A, _SAMPLE_B) < 20
    return docs.filter(keep).select("doc_id", "lang", "source").orderBy("doc_id")


@query(
    "datapipe_pack_chunks",
    oracle=f"""
    WITH base AS (
      SELECT lang, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      FROM documents
    ), cum AS (
      SELECT lang, doc_id, tok,
             COALESCE(SUM(tok) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      FROM base
    )
    SELECT lang, doc_id, tok,
           CAST(start // {PACK_CAPACITY} AS BIGINT) AS seq_id,
           CAST(start % {PACK_CAPACITY} AS BIGINT) AS offset,
           (start % {PACK_CAPACITY}) + tok > {PACK_CAPACITY} AS spans_boundary
    FROM cum
    ORDER BY lang, doc_id
    """,
)
def datapipe_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing (the Megatron/GPT pretraining
    layout): documents are concatenated per language in ``doc_id`` order
    and cut into fixed 256-token context windows; a document whose span
    crosses a cut is flagged.  Pure window math — one shuffle on the
    partition key, everything else in whole-stage codegen."""
    docs = load_table(spark, sf_dir, "documents")
    tok = F.size(F.split("text", " ")).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = docs.select("lang", "doc_id", tok.alias("tok"))
    start = F.coalesce(F.sum("tok").over(w), F.lit(0))
    return (
        base.withColumn("start", start)
        .select(
            "lang",
            "doc_id",
            "tok",
            (F.col("start") / PACK_CAPACITY).cast("long").alias("seq_id"),
            (F.col("start") % PACK_CAPACITY).alias("offset"),
            ((F.col("start") % PACK_CAPACITY) + F.col("tok") > PACK_CAPACITY).alias(
                "spans_boundary"
            ),
        )
        .orderBy("lang", "doc_id")
    )


@query(
    "datapipe_pack_greedy",
    # greedy first-fit packing is inherently sequential per group; the
    # oracle replays the same recurrence as a recursive CTE
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT lang, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
      WHERE lang IS NOT NULL
    ), packed AS (
      SELECT lang, doc_id, tok, rn,
             CAST(0 AS BIGINT) AS bin_id, tok AS fill_after
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.lang, b.doc_id, b.tok, b.rn,
             CASE WHEN p.fill_after + b.tok <= {PACK_CAPACITY}
                  THEN p.bin_id ELSE p.bin_id + 1 END,
             CASE WHEN p.fill_after + b.tok <= {PACK_CAPACITY}
                  THEN p.fill_after + b.tok ELSE b.tok END
      FROM packed p JOIN base b ON b.lang = p.lang AND b.rn = p.rn + 1
    )
    SELECT lang, doc_id, tok, bin_id, fill_after
    FROM packed
    ORDER BY lang, doc_id
    """,
)
def datapipe_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit sequence packing: documents fill a 256-token bin
    until the next one would overflow, then a new bin opens (no document
    is split).  The recurrence is sequential *within* a language but the
    languages pack in parallel — one ``applyInPandas`` task per group,
    loop in C-speed pandas/numpy inside.

    Untagged documents (NULL lang) are excluded on both engines: bins are
    language-homogeneous by definition, and a recursive-CTE oracle can
    never chain a NULL join key (the Spark groupBy would happily pack a
    NULL pseudo-group — the parity break the perturbed sweep caught)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    tok = F.size(F.split("text", " ")).cast("long")
    base = docs.select("lang", "doc_id", tok.alias("tok"))

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bin_ids, fills = [], []
        bin_id, fill = 0, 0
        first = True
        for t in pdf["tok"]:
            if first:
                bin_id, fill, first = 0, int(t), False
            elif fill + t <= PACK_CAPACITY:
                fill += int(t)
            else:
                bin_id += 1
                fill = int(t)
            bin_ids.append(bin_id)
            fills.append(fill)
        return pd.DataFrame(
            {
                "lang": pdf["lang"],
                "doc_id": pdf["doc_id"],
                "tok": pdf["tok"],
                "bin_id": bin_ids,
                "fill_after": fills,
            }
        )

    schema = "lang string, doc_id long, tok long, bin_id long, fill_after long"
    return (
        base.groupBy("lang").applyInPandas(pack, schema).orderBy("lang", "doc_id")
    )


@query(
    "datapipe_shard_balance",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    )
    SELECT CAST((rk - 1) % 8 AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM ranked
    GROUP BY 1
    ORDER BY shard
    """,
)
def datapipe_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced corpus sharding: size-descending round-robin (the greedy
    LPT approximation) assigns each document to one of 8 output shards so
    shard byte-totals stay within a few % of each other — the writer
    layout step before a partitioned ``write``.  One global window sort;
    at 100 TB swap ``row_number`` for a range-partitioned rank on
    pre-aggregated size quantiles."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        docs.select("doc_id", "n_chars", F.row_number().over(w).alias("rk"))
        .select(((F.col("rk") - 1) % 8).alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("shard")
    )


@query(
    "datapipe_global_shuffle",
    # md5 of the stringified key is the shared cross-engine hash; the
    # shard is a pure function of its first hex char (ascii % 4)
    oracle="""
    WITH h AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hkey FROM documents
    )
    SELECT doc_id,
           CAST(ascii(substring(hkey, 1, 1)) % 4 AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (
                  PARTITION BY ascii(substring(hkey, 1, 1)) % 4
                  ORDER BY hkey, doc_id) AS BIGINT) AS pos_in_shard
    FROM h
    ORDER BY shard, pos_in_shard
    """,
)
def datapipe_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-order randomization:
    order by a cryptographic hash of the stable key instead of an RNG, so
    the permutation is reproducible across reruns, engines, and resumes.
    Sharding first (hash prefix) keeps every window partition-local —
    position is per-shard, which is what a data loader consumes — so
    nothing serializes through a single task at 100 TB."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = docs.withColumn("hkey", F.md5(F.col("doc_id").cast("string")))
    shard = (F.ascii(F.substring("hkey", 1, 1)) % 4).cast("int")
    w = Window.partitionBy(shard).orderBy("hkey", "doc_id")
    return (
        h.select(
            "doc_id",
            shard.alias("shard"),
            F.row_number().over(w).cast("bigint").alias("pos_in_shard"),
        )
        .orderBy("shard", "pos_in_shard")
    )


@query(
    "datapipe_contamination",
    # benchmark set = doc_id % 7 == 0 (a stand-in eval split); a train
    # doc is contaminated if it shares any 5-gram with a benchmark doc
    oracle="""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), grams AS (
      SELECT doc_id, array_to_string(w[CAST(i AS BIGINT):CAST(i + 4 AS BIGINT)], ' ') AS g
      FROM docs, UNNEST(range(1, len(w) - 3)) AS t(i)
      WHERE len(w) >= 5
    ), bench AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 7 = 0
    )
    SELECT t.doc_id, CAST(COUNT(DISTINCT t.g) AS BIGINT) AS shared_grams
    FROM grams t
    JOIN bench b ON t.g = b.g
    WHERE t.doc_id % 7 <> 0
    GROUP BY t.doc_id
    ORDER BY shared_grams DESC, doc_id
    LIMIT 50
    """,
)
def datapipe_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: which training documents share
    5-gram shingles with the (held-out) benchmark set.  The gram stream is
    built once and reused for both sides; the benchmark side collapses to
    DISTINCT grams.  No forced broadcast: a REAL eval set is tiny and AQE
    will broadcast it from its actual runtime size, but this simulation
    carves the benchmark out of the corpus itself (doc_id % 7), so its
    gram set scales with the data and a hint would pin an unbounded
    broadcast at 100 TB.  The token array materializes as a column
    BEFORE the transform() lambda (transform bodies are not CSE'd — see
    llm_text.text_fingerprint)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    ).filter(F.size("w") >= 5)
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 4),
                lambda i: F.concat_ws(" ", F.slice("w", i, 5)),
            )
        ).alias("g"),
    )
    bench = (
        grams.filter(F.col("doc_id") % 7 == 0).select("g").distinct()
    )
    return (
        grams.filter(F.col("doc_id") % 7 != 0)
        .join(bench, "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").cast("bigint").alias("shared_grams"))
        .orderBy(F.col("shared_grams").desc(), "doc_id")
        .limit(50)
    )


@query(
    "datapipe_vocab_build",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ), freq AS (
      SELECT tok, COUNT(*) AS n FROM tok GROUP BY 1
    )
    SELECT tok, CAST(n AS BIGINT) AS n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok) - 1 AS BIGINT)
             AS token_id
    FROM freq
    ORDER BY token_id
    LIMIT 1000
    """,
)
def datapipe_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction for a tokenizer: corpus-wide token counts,
    frequency-ranked contiguous ids (ties broken lexically so the mapping
    is deterministic across engines and reruns).  The count shuffles on
    the token key with map-side partial aggregation; the global rank runs
    on the |vocabulary|-sized aggregate, and only the top slice is kept —
    at 100 TB the vocab table is MBs while the corpus is the only big
    scan."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), "tok")
    return (
        freq.select(
            "tok",
            F.col("n").cast("bigint").alias("n"),
            (F.row_number().over(w) - 1).cast("bigint").alias("token_id"),
        )
        .orderBy("token_id")
        .limit(1000)
    )


# Domain-mixture weights in integer percent (epochs × 100): src0 is
# upsampled 1.7×, src1 kept, src2 downsampled to 0.4×, the long tail to
# 0.25×.  Fractional epochs resolve per document through the same
# deterministic LCG bucket as the split assignment.
_MIX_PCT = {"src0": 170, "src1": 100, "src2": 40}
_MIX_DEFAULT_PCT = 25


def _mix_pct_sql() -> str:
    arms = " ".join(
        f"WHEN source = '{s}' THEN {p}" for s, p in sorted(_MIX_PCT.items())
    )
    return f"CASE {arms} ELSE {_MIX_DEFAULT_PCT} END"


@query(
    "datapipe_domain_mix",
    oracle=f"""
    WITH weighted AS (
      SELECT doc_id, source,
             ({_mix_pct_sql()}) // 100
             + CASE WHEN {_bucket_sql('doc_id', _SAMPLE_A, _SAMPLE_B)}
                         < ({_mix_pct_sql()}) % 100
                    THEN 1 ELSE 0 END AS repeats
      FROM documents
    ), emitted AS (
      SELECT doc_id, source, CAST(e AS BIGINT) AS epoch
      FROM (SELECT * FROM weighted WHERE repeats >= 1),
           UNNEST(range(1, repeats + 1)) AS t(e)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_rows_out,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_kept,
           CAST(MAX(epoch) AS BIGINT) AS max_epoch,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM emitted
    GROUP BY source
    ORDER BY source
    """,
)
def datapipe_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: each source gets a target epoch weight
    (1.7× / 1.0× / 0.4× / 0.25×); whole epochs replicate every document,
    the fractional remainder keeps a deterministic hash-bucket slice —
    the standard way a pretraining mix is materialized.  Per-source
    summary of the emitted stream.

    Scale: the repeat count is a pure row-local function (no RNG state,
    no driver loop); ``explode(sequence(...))`` materializes copies
    map-side with zero shuffle, and only the final per-source summary
    aggregates.  At 100 TB the emitted mixture streams straight to the
    sink."""
    docs = load_table(spark, sf_dir, "documents")
    pct = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(p))
            for s, p in sorted(_MIX_PCT.items())
        ],
        F.lit(_MIX_DEFAULT_PCT),
    )
    weighted = docs.select(
        "doc_id",
        "source",
        (
            (pct / 100).cast("int")
            + F.when(
                _bucket(F.col("doc_id"), _SAMPLE_A, _SAMPLE_B) < pct % 100, 1
            ).otherwise(0)
        ).alias("repeats"),
    )
    emitted = weighted.filter(F.col("repeats") >= 1).select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1), F.col("repeats"))).alias("epoch"),
    )
    return (
        emitted.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_rows_out"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs_kept"),
            F.max("epoch").cast("bigint").alias("max_epoch"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
        )
        .orderBy("source")
    )


@query(
    "datapipe_leakage_safe_split",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, n_chars, sha256(text) AS h FROM documents
    ),
    a AS (
      SELECT doc_id, n_chars,
             MIN(doc_id) OVER (PARTITION BY h) AS canonical
      FROM g
    )
    SELECT
      CASE WHEN {_bucket_sql('canonical', _SPLIT_A, _SPLIT_B)} < 80 THEN 'train'
           WHEN {_bucket_sql('canonical', _SPLIT_A, _SPLIT_B)} < 90 THEN 'valid'
           ELSE 'test' END AS split,
      COUNT(*) AS n_docs,
      COUNT(DISTINCT canonical) AS n_groups,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM a
    GROUP BY 1
    ORDER BY split
    """,
)
def datapipe_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid/test split: the bucket is computed from
    the duplicate GROUP's canonical doc_id (min doc_id per content hash),
    not the row's own id — exact duplicates can never straddle splits,
    the standard guard against train→test contamination that a plain
    per-row hash split (datapipe_split_assign) does not give.

    One shuffle: the canonical id comes from a window min over the
    content-hash partition (group-then-join would shuffle twice); the
    split is then a pure function of the canonical, so the no-straddle
    invariant holds by construction at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2("text", 256))
    a = docs.select(
        "doc_id", "n_chars", F.min("doc_id").over(w).alias("canonical")
    )
    bucket = _bucket(F.col("canonical"), _SPLIT_A, _SPLIT_B)
    return (
        a.withColumn(
            "split",
            F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("canonical").alias("n_groups"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split")
    )


@query(
    "datapipe_corpus_pipeline",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, string_split(lower(text), ' ') AS w, sha256(text) AS h
      FROM documents
      WHERE lang IN ('en', 'de', 'fr', 'es')
    ),
    q AS (
      SELECT doc_id, lang, len(w) AS n_toks, h
      FROM t
      WHERE len(w) >= 10 AND 10 * len(list_distinct(w)) >= 3 * len(w)
    ),
    d AS (
      SELECT doc_id, lang, n_toks,
             MIN(doc_id) OVER (PARTITION BY h) AS canonical
      FROM q
    ),
    kept AS (SELECT * FROM d WHERE doc_id = canonical),
    s AS (
      SELECT lang, n_toks,
        CASE WHEN {_bucket_sql('canonical', _SPLIT_A, _SPLIT_B)} < 80 THEN 'train'
             WHEN {_bucket_sql('canonical', _SPLIT_A, _SPLIT_B)} < 90 THEN 'valid'
             ELSE 'test' END AS split
      FROM kept
    )
    SELECT split, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           CAST(CEIL(SUM(n_toks) / {PACK_CAPACITY}.0) AS BIGINT) AS n_bins
    FROM s
    GROUP BY split, lang
    ORDER BY split, lang
    """,
)
def datapipe_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus build as ONE DataFrame plan: language
    filter → quality filter (length + distinct-token ratio) → exact
    dedup (keep min doc_id per content hash) → leakage-safe split →
    per-(split, lang) packing stats.  The composition proof that the
    individual datapipe/dedup/text operators chain into the pipeline a
    user actually runs.

    Scale shape: the lang filter is a pushed-down scan predicate; the
    quality filter is per-row (no shuffle); dedup + split reuse the one
    content-hash window shuffle (datapipe_leakage_safe_split); the final
    stats are a grouped agg over the survivors.  Total: two shuffles and
    a pure function of the scan, whatever the corpus size.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "de", "fr", "es")
    )
    toks = docs.select(
        "doc_id", "lang", F.split(F.lower("text"), " ").alias("w"),
        F.sha2("text", 256).alias("h"),
    ).select(
        "doc_id", "lang", "h",
        F.size("w").alias("n_toks"),
        F.size(F.array_distinct("w")).alias("n_distinct"),
    )
    quality = toks.filter(
        (F.col("n_toks") >= 10)
        # distinct-token ratio >= 0.3 in exact integer arithmetic
        & (10 * F.col("n_distinct") >= 3 * F.col("n_toks"))
    )
    deduped = quality.withColumn(
        "canonical", F.min("doc_id").over(Window.partitionBy("h"))
    ).filter(F.col("doc_id") == F.col("canonical"))
    bucket = _bucket(F.col("canonical"), _SPLIT_A, _SPLIT_B)
    split = deduped.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test"),
    )
    return (
        split.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.ceil(F.sum("n_toks") / PACK_CAPACITY).alias("n_bins"),
        )
        .orderBy("split", "lang")
    )


@query(
    "datapipe_domain_quota",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {_bucket_sql('doc_id', _SAMPLE_A, _SAMPLE_B)}, doc_id
             ) AS rk
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
           MAX(rk) AS quota_used
    FROM ranked
    WHERE rk <= 15
    GROUP BY source
    ORDER BY source
    """,
)
def datapipe_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling: each source keeps at most 15 documents,
    chosen by deterministic hash rank (not arrival order, which would
    bias toward whatever was crawled first) — the per-domain cap that
    stops a single giant site from dominating a web corpus.

    One shuffle on source for the window rank; the hash order makes the
    selection reproducible across runs and cluster layouts, same
    property as the split/sample family."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        _bucket(F.col("doc_id"), _SAMPLE_A, _SAMPLE_B), "doc_id"
    )
    ranked = docs.select(
        "doc_id", "source", "n_chars", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= 15)
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
            F.max("rk").alias("quota_used"),
        )
        .orderBy("source")
    )


@query(
    "datapipe_weighted_sample",
    oracle="""
    WITH cum AS (
      SELECT doc_id, source, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum_w,
             SUM(n_chars) OVER (PARTITION BY source) AS total_w
      FROM documents
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
           CAST((cum_w * 10) // total_w AS BIGINT) AS pick_slot
    FROM cum
    WHERE (cum_w * 10) // total_w > ((cum_w - n_chars) * 10) // total_w
    ORDER BY doc_id
    """,
)
def datapipe_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size (PPS) sampling per source via
    SYSTEMATIC cumulative-weight selection: lay each stratum's documents
    on a line segment scaled by weight (n_chars), drop k=10 equally
    spaced picks, keep the document whose segment contains each pick —
    long documents are proportionally more likely, exactly the
    quality/length-weighted sampling step of a training-data mixture.

    Deterministic and EXACT cross-engine: selection is pure BIGINT
    arithmetic (a document is picked iff floor(cum*k/W) advances across
    its segment) — no RNG, no transcendental sampling keys whose libm
    rounding could flip a boundary (the A-ES u^(1/w) form is NOT
    replayable across engines).  One window shuffle per stratum; at
    100 TB this is a single hash-partition by source + in-partition scan,
    and re-running any subset of shards reproduces the identical sample.
    """
    docs = load_table(spark, sf_dir, "documents")
    w_src = Window.partitionBy("source")
    w_cum = w_src.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    cum = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("weight"),
        F.sum("n_chars").over(w_cum).alias("cum_w"),
        F.sum("n_chars").over(w_src).alias("total_w"),
    )
    # exact BIGINT division on both engines (Spark `div` == DuckDB `//`)
    slot = F.expr("(cum_w * 10) div total_w")
    prev_slot = F.expr("((cum_w - weight) * 10) div total_w")
    return (
        cum.withColumn("pick_slot", slot.cast("bigint"))
        .filter(slot > prev_slot)
        .select("doc_id", "source", "weight", "pick_slot")
        .orderBy("doc_id")
    )


@query(
    "datapipe_cap_per_source",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source,
             (doc_id * {_SAMPLE_A} + {_SAMPLE_B}) % {_MOD} AS shuffle_key
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, shuffle_key,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY shuffle_key, doc_id) AS rk
      FROM keyed
    )
    SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 10
    ORDER BY source, rk
    """,
)
def datapipe_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (keep at most K docs per source) — the
    anti-domination guard every web-scale corpus applies so one crawler
    host can't dominate training.  Selection is a DETERMINISTIC pseudo-
    random order (LCG key of doc_id — pure BIGINT math both engines
    reproduce), so reruns and engine swaps keep identical docs: no RNG,
    no driver state.  One window over the source partition is the only
    shuffle; at 100 TB the per-source partitions are bounded by the cap's
    early discard (rank > K rows never leave the map side under AQE's
    partial windowed top-k... rewrite as groupBy(max-heap agg) if a
    single source exceeds task memory)."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        ((F.col("doc_id") * _SAMPLE_A + _SAMPLE_B) % _MOD).alias("shuffle_key"),
    )
    w = Window.partitionBy("source").orderBy("shuffle_key", "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 10)
        .select("doc_id", "source", "rk")
        .orderBy("source", "rk")
    )


@query(
    "datapipe_contamination_ngram",
    oracle="""
    WITH sh_all AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(n_chars - 19, 0) + 1),
                                   i -> substr(text, CAST(i AS INTEGER), 20)))
               AS sh
      FROM documents
    ),
    bench AS (SELECT DISTINCT sh FROM sh_all WHERE doc_id % 13 = 0)
    SELECT t.doc_id,
           CAST(COUNT(DISTINCT t.sh) AS BIGINT) AS n_shared_ngrams
    FROM sh_all t JOIN bench b ON t.sh = b.sh
    WHERE t.doc_id % 13 <> 0
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def datapipe_contamination_ngram(
    spark: SparkSession, sf_dir: str, *, hash_shingles: bool = True
) -> DataFrame:
    """Train/benchmark contamination check: flag training documents that
    share any character-20-gram with a held-out benchmark set (docs with
    doc_id % 13 = 0 stand in for the eval suite) — the decontamination
    pass every serious pretraining pipeline runs before training.

    Shingling is pure JVM codegen (sequence → transform → explode, no
    Python), the benchmark shingle set is deduplicated BEFORE the join,
    and the join hash-partitions on the shingle itself, so hot shingles
    spread by value and the fact side streams map-side.  At 100 TB the
    benchmark side is tiny (eval suites are MBs) → AQE broadcasts it;
    nothing here assumes that, so a giant benchmark degrades to a
    shuffle join, not an OOM.  The DEFAULT is the production path:
    ``xxhash64(shingle)`` replaces the 20-char string in the
    dedup/join/countDistinct — identical semantics and identical
    RESULTS over an 8-byte key (2.3x faster at 25x corpus scale,
    SCALE.md §9d; parity pinned by
    ``tests/test_datapipe_hashed_shingles.py``); ``hash_shingles=False``
    keeps the string form the oracle restates."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    shingle = (
        "xxhash64(substring(text, i, 20))"
        if hash_shingles
        else "substring(text, i, 20)"
    )
    empty_t = "array<bigint>" if hash_shingles else "array<string>"
    shingles = docs.select(
        "doc_id",
        F.explode(
            # Spark's sequence(1, 0) steps DOWN to [1, 0] (it is not empty),
            # so docs shorter than the shingle width must be guarded to an
            # empty array explicitly or they emit phantom shingles.
            F.when(
                F.col("n_chars") >= 20,
                F.expr(
                    "transform(sequence(1, n_chars - 19), "
                    f"i -> {shingle})"
                ),
            ).otherwise(F.array().cast(empty_t))
        ).alias("sh"),
    )
    bench = (
        shingles.filter(F.col("doc_id") % 13 == 0).select("sh").distinct()
    )
    train = shingles.filter(F.col("doc_id") % 13 != 0)
    return (
        train.join(bench, "sh")
        .groupBy("doc_id")
        .agg(F.countDistinct("sh").alias("n_shared_ngrams"))
        .orderBy("doc_id")
    )


@query(
    "datapipe_c4_filter_cascade",
    oracle="""
    WITH f AS (
      SELECT
        doc_id, lang, source,
        n_chars < 100 AS too_short,
        len(text) - len(replace(text, ' ', '')) + 1 < 20 AS too_few_words,
        CAST(len(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
          / n_chars > 0.05 AS bad_symbol_ratio,
        NOT (text LIKE '% the %' OR text LIKE '% a %'
             OR text LIKE 'the %' OR text LIKE 'a %') AS no_stopword
      FROM documents
    )
    SELECT doc_id, lang, source, too_short, too_few_words,
           bad_symbol_ratio, no_stopword,
           NOT (too_short OR too_few_words OR bad_symbol_ratio OR no_stopword)
             AS keep
    FROM f
    ORDER BY doc_id
    """,
)
def datapipe_c4_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style quality-filter cascade as one scan: per-document boolean
    verdicts for each heuristic (length floor, word-count floor, symbol
    ratio, stopword presence) plus the final keep decision — kept as
    FLAGS rather than a filtered subset so the pipeline can audit rule
    firing rates before committing to a drop (the reference's DQ-report
    posture applied to corpus curation).  Pure codegen expressions over
    one pass; no shuffle except the presentation sort.  Rules compose
    with OR so adding a rule can only remove docs — monotone, auditable."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    )
    symbol_ratio = F.try_divide(
        F.length(F.regexp_replace("text", "[a-z ]", "")).cast("double"),
        F.col("n_chars"),
    )
    has_stopword = (
        F.col("text").like("% the %")
        | F.col("text").like("% a %")
        | F.col("text").like("the %")
        | F.col("text").like("a %")
    )
    f = docs.select(
        "doc_id",
        "lang",
        "source",
        (F.col("n_chars") < 100).alias("too_short"),
        (n_words < 20).alias("too_few_words"),
        (symbol_ratio > 0.05).alias("bad_symbol_ratio"),
        (~has_stopword).alias("no_stopword"),
    )
    return f.withColumn(
        "keep",
        ~(
            F.col("too_short")
            | F.col("too_few_words")
            | F.col("bad_symbol_ratio")
            | F.col("no_stopword")
        ),
    ).orderBy("doc_id")


@query(
    "datapipe_epoch_mixture",
    oracle="""
    WITH avail AS (
      SELECT source,
             CAST((CAST(SUBSTR(source, 4) AS INTEGER) % 5) + 1 AS BIGINT)
               AS weight,
             CAST(SUM(n_chars) // 4 AS BIGINT) AS available_tokens
      FROM documents GROUP BY source
    ), tot AS (SELECT SUM(weight) AS wsum FROM avail)
    SELECT source, weight, available_tokens,
           CAST((1000000 * weight) // wsum AS BIGINT) AS target_tokens,
           CAST(CASE WHEN available_tokens = 0 THEN 0
                ELSE ((1000000 * weight) // wsum + available_tokens - 1)
                     // available_tokens END AS BIGINT) AS n_epochs,
           CAST(CASE WHEN available_tokens = 0 THEN 0
                ELSE (1000000 * weight) // wsum
                     - (((1000000 * weight) // wsum + available_tokens - 1)
                        // available_tokens - 1) * available_tokens
                END AS BIGINT) AS last_epoch_tokens
    FROM avail, tot
    ORDER BY source
    """,
)
def datapipe_epoch_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch mixture schedule: given per-source mixture weights
    and a total token budget, compute how many EPOCHS of each source
    the training run needs (repeat factor) and how many tokens the
    final partial epoch draws — the Llama-style data-recipe arithmetic
    that turns "sample src3 at 2x weight" into a concrete repeat plan
    when a source has fewer tokens than its target share.

    All integer arithmetic (floor-div token estimate at 4 chars/token,
    ceil-div epochs), so both engines agree bit-for-bit.  One
    groupBy(source) — a bounded-cardinality agg with map-side partials;
    the weight is a pure function of the source name, so the whole plan
    derives from one scan at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    budget = F.lit(1000000)
    avail = docs.groupBy("source").agg(
        ((F.substring("source", 4, 10).cast("int") % 5) + 1)
        .cast("bigint")
        .alias("weight"),
        F.floor(F.sum("n_chars") / 4).cast("bigint").alias("available_tokens"),
    )
    wsum = avail.agg(F.sum("weight").alias("wsum"))
    target = F.floor(budget * F.col("weight") / F.col("wsum")).cast("bigint")
    epochs = F.when(F.col("available_tokens") == 0, F.lit(0)).otherwise(
        F.floor(
            (F.col("target_tokens") + F.col("available_tokens") - 1)
            / F.col("available_tokens")
        )
    ).cast("bigint")
    return (
        avail.crossJoin(F.broadcast(wsum))
        .withColumn("target_tokens", target)
        .withColumn("n_epochs", epochs)
        .withColumn(
            "last_epoch_tokens",
            F.when(F.col("available_tokens") == 0, F.lit(0))
            .otherwise(
                F.col("target_tokens")
                - (F.col("n_epochs") - 1) * F.col("available_tokens")
            )
            .cast("bigint"),
        )
        .select(
            "source", "weight", "available_tokens", "target_tokens",
            "n_epochs", "last_epoch_tokens",
        )
        .orderBy("source")
    )


@query(
    "datapipe_bpe_merge_step",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), pairs AS (
      SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2)))
        AS pair
      FROM words WHERE len(w) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def datapipe_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge iteration, distributed: count every
    adjacent character pair inside every word across the corpus and
    rank the top candidates — the inner loop of byte-pair-encoding
    vocabulary training (the winning pair becomes the next merge rule).

    Pure codegen: split → explode words → per-word pair explode (the
    sequence generator is start ≤ stop by the len ≥ 2 guard) → one
    hash-partitioned count.  Pair cardinality is bounded by the
    alphabet squared, so the aggregation state is tiny no matter the
    corpus size; map-side partial aggregation does almost all the work
    and the shuffle carries only (pair, count) rows."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


# fixed merge table for the tokenizer demo, in priority order — a real
# pipeline learns these (see datapipe_bpe_merge_step); the application
# machinery is identical
_BPE_MERGES = [
    ("t h", "th"), ("i n", "in"), ("e r", "er"),
    ("a n", "an"), ("o n", "on"), ("th e", "the"),
]


@query(
    "datapipe_bpe_tokenize",
    oracle="""
    SELECT doc_id,
           CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_char_units,
           CAST(len(string_split_regex(trim(
             replace(replace(replace(replace(replace(replace(
               trim(regexp_replace(text, '(.)', '\\1 ', 'g')),
               't h', 'th'), 'i n', 'in'), 'e r', 'er'),
               'a n', 'an'), 'o n', 'on'), 'th e', 'the')
           ), ' +')) AS BIGINT) AS n_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def datapipe_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization APPLY pass, fully declarative: split text into
    character units, then apply the merge table in priority order as
    sequential global replaces — the greedy merge application at the
    heart of byte-pair tokenizers, over the whole corpus in one scan
    with zero Python.  (datapipe_bpe_merge_step LEARNS merge
    candidates; this applies a fixed table.)  Word boundaries
    self-protect: the char split turns an original space into extra
    separator spaces, so no single-space merge pattern can fire across
    words.

    Output: per-document unit count before merges (non-space chars)
    and token count after — the compression the merge table buys.
    Pure codegen string ops; the merge table scales to thousands of
    entries as a chained expression or a gather-join, same plan
    shape."""
    docs = load_table(spark, sf_dir, "documents")
    units = F.trim(F.regexp_replace("text", "(.)", "$1 "))
    for pat, rep in _BPE_MERGES:
        units = F.replace(units, F.lit(pat), F.lit(rep))
    return docs.select(
        "doc_id",
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("bigint")
        .alias("n_char_units"),
        F.size(F.split(F.trim(units), " +")).cast("bigint").alias("n_tokens"),
    ).orderBy("doc_id")


@query(
    "datapipe_quality_percentile_filter",
    oracle="""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS quality_score
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, quality_score,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY quality_score DESC, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY source) AS n_in_source
      FROM scored
    )
    SELECT doc_id, source, quality_score,
           CAST(rk AS BIGINT) AS rk,
           CAST(n_in_source AS BIGINT) AS n_in_source
    FROM ranked
    WHERE rk * 4 <= n_in_source + 3
    ORDER BY doc_id
    """,
)
def datapipe_quality_percentile_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RELATIVE quality filtering: keep the top quarter of each source by
    a quality score — the FineWeb-style per-domain percentile threshold,
    as opposed to the absolute rule cascade of
    ``datapipe_c4_filter_cascade`` (fixed cutoffs drop whole domains
    whose baseline differs; a within-source quantile adapts the bar per
    domain) and the anti-domination constant-K cap of
    ``datapipe_cap_per_source`` (which selects randomly, not by merit).

    Determinism/parity: the score is an integer (distinct-token count —
    both engines split on the literal space and agree on empty/repeated
    separators), ordering is made total by the ``doc_id`` tie-break, and
    the quantile cut is pure integer math (``4*rk <= n+3`` is
    ``rk <= ceil(n/4)``) — no percent_rank doubles, no boundary rounding.

    Scale shape: the score is pure codegen on the scan; the only shuffle
    is one hash-partition by source for the window.  At 100 TB the exact
    per-source sort is the cost — the standard relaxation computes
    ``approx_percentile(score, 0.75)`` per source (a tiny two-level agg)
    and broadcasts the thresholds back as a map-side filter; the exact
    form is kept here because the driver's oracle checks value equality.
    """
    docs = load_table(spark, sf_dir, "documents")
    score = F.size(F.array_distinct(F.split(F.col("text"), " ")))
    scored = docs.select(
        "doc_id", "source", score.cast("bigint").alias("quality_score")
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("quality_score"), "doc_id"
    )
    n_src = F.count("*").over(Window.partitionBy("source"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .withColumn("n_in_source", n_src.cast("bigint"))
        .filter(F.col("rk") * 4 <= F.col("n_in_source") + 3)
        .select("doc_id", "source", "quality_score", "rk", "n_in_source")
        .orderBy("doc_id")
    )


@query(
    "datapipe_boilerplate_prune",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(n_chars - 19, 0) + 1),
                                     i -> substr(text, CAST(i AS INTEGER), 20)))
                 AS s
        FROM documents
      )
    ),
    df AS (SELECT s, COUNT(*) AS d FROM sh GROUP BY s),
    per AS (
      SELECT sh.doc_id,
             COUNT(*) AS n_shingles,
             SUM(CASE WHEN df.d >= 4 THEN 1 ELSE 0 END) AS n_boilerplate
      FROM sh JOIN df ON sh.s = df.s
      GROUP BY sh.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(per.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(per.n_boilerplate, 0) AS BIGINT) AS n_boilerplate,
           COALESCE(per.n_boilerplate, 0) * 2 <= COALESCE(per.n_shingles, 0)
             AS keep
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    ORDER BY d.doc_id
    """,
)
def datapipe_boilerplate_prune(
    spark: SparkSession, sf_dir: str, *, hash_shingles: bool = True
) -> DataFrame:
    """WITHIN-corpus boilerplate mining (the Lee et al. "Deduplicating
    Training Data" repeated-substring problem, restated over shingles):
    a character-20-gram appearing in >= 4 distinct documents is
    boilerplate (shared nav/footer/license text); a document keeps only
    if boilerplate shingles are <= half its distinct shingles.  Distinct
    from ``datapipe_contamination_ngram`` (cross-corpus: train vs
    held-out benchmark) and ``text_repetition_filter`` (within-document
    repetition): this is the cross-document, within-corpus axis.

    Shape: shingling is pure JVM codegen, and per-doc dedup happens
    BEFORE the explode via ``array_distinct`` — every shingle of a doc
    sits in one row, so the (doc_id, shingle) dedup that a naive plan
    pays a full string shuffle for costs zero exchanges here.  ONE
    groupBy(shingle) then computes document frequency (count of
    per-doc-distinct rows IS doc-frequency — no count-distinct
    needed); only the df >= 4 survivors join back, so the join-back
    side shrinks to the boilerplate set (tiny by Zipf — AQE broadcasts
    it at any real corpus size).  The shingle projection is computed
    once per consumer (two scans: df-count branch + membership
    branch) by design: a shingle-pair shuffle carries ~20x the corpus
    bytes (one 20-char shingle per character position), so trading
    the old shared-``distinct()`` exchange (1 scan + 2 pair-shuffles)
    for 2 columnar scans + 1 pair-shuffle is the 100 TB win; a window
    count would reach 1 scan + 1 shuffle but adds an external SORT of
    the full pair stream, which loses to a second scan.  Docs too short to shingle keep
    trivially via the left join.  At 100 TB, shingle STRINGS in the
    doc-frequency shuffle would be the cost driver, so the DEFAULT is
    the production path: ``xxhash64(shingle)`` 8-byte keys, exactly as
    the MinHash family does (``llm_dedup.py``) — identical
    groupBy/join/count semantics and identical RESULTS to the string
    form (``hash_shingles=False``; parity pinned by
    ``tests/test_datapipe_hashed_shingles.py``, measured 3.5x faster
    and ~25% fewer shuffle bytes at 25x corpus scale — SCALE.md §9d).
    The oracle restates the string form, which the hashed plan
    hash-matches because the OUTPUT columns carry no shingles; a 64-bit
    collision can only conflate two shingles' doc-frequencies, the same
    tolerance every MinHash deployment accepts."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    if hash_shingles:
        # Arrow kernel (r15, guide §4.2): the 20-gram projection was an
        # interpreted higher-order-function lambda (transform() bodies
        # never reach codegen — ~1.4 s/pass at sf0.1, two passes by
        # design); a vectorized numpy rolling hash computes the same
        # per-doc DISTINCT 64-bit shingle hashes in one matmul-shaped
        # pass per doc.  Exactly like the xxhash64 form it replaces,
        # ANY 64-bit hash with negligible collision mass keeps the
        # doc-frequency counts identical (the output columns carry no
        # shingles; parity with the string form is pinned by
        # tests/test_datapipe_hashed_shingles.py).  Shuffle shape is
        # unchanged: hashes are deduped per doc BEFORE leaving the
        # kernel, so no (doc, shingle) pair shuffle appears.
        def _shingle_kernel(batches):
            import numpy as np
            import pandas as pd

            # 20-term polynomial over the window bytes, mod 2^64
            # (FNV-prime base); precomputed power vector
            base = 1099511628211
            pows = np.array(
                [pow(base, k, 1 << 64) for k in range(19, -1, -1)],
                dtype=np.uint64,
            )
            win = np.lib.stride_tricks.sliding_window_view
            err = np.seterr(over="ignore")
            try:
                for pdf in batches:
                    ids: list = []
                    hs: list = []
                    for doc_id, text, n in zip(
                        pdf["doc_id"], pdf["text"], pdf["n_chars"]
                    ):
                        # NULL text or n_chars yields no shingle, as in
                        # the string form and the oracle SQL
                        if text is None or pd.isna(n) or int(n) < 20:
                            continue
                        n = int(n)
                        if len(text) != n or not text.isascii():
                            # generic fallback: same polynomial over
                            # each CHAR window's UTF-8 bytes (identical
                            # values on the ASCII fast path)
                            seen = set()
                            for i in range(n - 19):
                                b = text[i : i + 20].encode("utf-8")
                                h = 0
                                for byte in b:
                                    h = (h * base + byte) & ~(-1 << 64)
                                seen.add(h)
                            u = np.fromiter(
                                seen, dtype=np.uint64, count=len(seen)
                            )
                        else:
                            arr = np.frombuffer(
                                text.encode("ascii"), dtype=np.uint8
                            )
                            h = (
                                win(arr, 20).astype(np.uint64) * pows
                            ).sum(axis=1)
                            u = np.unique(h)
                        ids.append(
                            np.full(len(u), int(doc_id), dtype=np.int64)
                        )
                        hs.append(u.view(np.int64))
                    if ids:
                        yield pd.DataFrame(
                            {
                                "doc_id": np.concatenate(ids),
                                "s": np.concatenate(hs),
                            }
                        )
            finally:
                np.seterr(**err)

        sh = docs.mapInPandas(_shingle_kernel, "doc_id long, s long")
    else:
        sh = docs.select(
            "doc_id",
            F.explode(
                F.when(
                    (F.col("n_chars") >= 20) & F.col("text").isNotNull(),
                    F.expr(
                        "array_distinct(transform(sequence(1, n_chars - 19), "
                        "i -> substring(text, i, 20)))"
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("s"),
        )
    boiler = (
        sh.groupBy("s")
        .agg(F.count("*").alias("d"))
        .filter(F.col("d") >= 4)
        .select("s")
    )
    per = (
        sh.join(boiler.withColumn("is_b", F.lit(1)), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.coalesce("is_b", F.lit(0))).cast("bigint").alias("n_boilerplate"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("bigint").alias("n_shingles"),
            F.coalesce("n_boilerplate", F.lit(0)).cast("bigint").alias(
                "n_boilerplate"
            ),
            (
                F.coalesce("n_boilerplate", F.lit(0)) * 2
                <= F.coalesce("n_shingles", F.lit(0))
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


# DSIR (Xie et al. 2023, "Data Selection for Language Models via
# Importance Resampling"): score each raw-pool document by the
# log-likelihood ratio of its hashed n-gram features under a target
# distribution vs the raw distribution.  The feature hash must be
# IDENTICAL on both engines, so the bucket is derived from md5 hex
# digits (md5 is bit-identical everywhere) rather than engine-native
# hashes: bucket = int(md5(term)[:3], 16) in [0, 4096).
_DSIR_K = 4096


@query(
    "datapipe_dsir_importance",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w
      FROM documents
    ),
    terms AS (
      SELECT doc_id, lang,
             unnest(list_concat(
               w,
               list_transform(range(1, len(w)),
                              i -> w[CAST(i AS INTEGER)] || ' ' ||
                                   w[CAST(i AS INTEGER) + 1])
             )) AS term
      FROM toks
    ),
    feats AS (
      SELECT doc_id, lang,
             (strpos('0123456789abcdef', substr(md5(term), 1, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5(term), 2, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(term), 3, 1)) - 1)
               AS bucket
      FROM terms
    ),
    tc AS (SELECT bucket, COUNT(*) AS t_n FROM feats WHERE lang = 'en'
           GROUP BY bucket),
    rc AS (SELECT bucket, COUNT(*) AS r_n FROM feats WHERE lang <> 'en'
           GROUP BY bucket),
    tot AS (SELECT (SELECT COALESCE(SUM(t_n), 0) FROM tc) AS t_tot,
                   (SELECT COALESCE(SUM(r_n), 0) FROM rc) AS r_tot),
    lr AS (
      SELECT rc.bucket,
             CAST(ROUND((LN((COALESCE(tc.t_n, 0) + 0.5)
                            / (tot.t_tot + {_DSIR_K} * 0.5))
                       - LN((rc.r_n + 0.5)
                            / (tot.r_tot + {_DSIR_K} * 0.5))) * 1000000, 0)
                  AS BIGINT) AS lr_micro
      FROM rc LEFT JOIN tc ON rc.bucket = tc.bucket CROSS JOIN tot
    )
    SELECT f.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(lr.lr_micro) AS BIGINT) AS dsir_logweight_micro,
           SUM(lr.lr_micro) > 0 AS keep
    FROM feats f JOIN lr ON f.bucket = lr.bucket
    WHERE f.lang <> 'en'
    GROUP BY f.doc_id
    ORDER BY f.doc_id
    """,
)
def datapipe_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting for data selection (Xie et al. 2023):
    treat the English documents as the target corpus, every other
    document as the raw crawl pool, featurize both as hashed
    unigram+bigram counts over ``_DSIR_K`` buckets, and score each raw
    document by the summed per-bucket log-likelihood ratio of the
    (Laplace-smoothed) target vs raw bucket distributions.  ``keep``
    marks documents that look more target-like than raw-like — the
    importance-resampling acceptance direction.

    100 TB posture: the two bucket-count aggregations partially
    aggregate map-side and collapse to <= 4096 rows each, so the
    log-ratio table is a guaranteed-broadcast dimension regardless of
    corpus size; the only corpus-scale shuffle is the final per-doc
    score aggregation (keyed by doc_id, combinable sum).  Everything is
    JVM codegen — md5/substr/instr for the feature hash (bit-identical
    across engines, which is what makes the DuckDB twin exact), no
    Python.  Per-bucket log ratios are quantized to BIGINT micro-units
    before the per-doc sum, so the summed weight is integer-exact and
    immune to float-addition ordering (a double sum differed at the
    4th decimal between engines on the fixtures)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = docs.select(
        "doc_id", "lang", F.split("text", " ").alias("w")
    ).withColumn("nw", F.size("w"))
    terms = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.concat(
                F.col("w"),
                F.when(
                    F.col("nw") >= 2,
                    F.expr(
                        "transform(sequence(1, nw - 1), "
                        "i -> concat(element_at(w, i), ' ', "
                        "element_at(w, i + 1)))"
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )
        ).alias("term"),
    )
    feats = terms.select(
        "doc_id",
        "lang",
        F.expr(
            "(instr('0123456789abcdef', substring(md5(term), 1, 1)) - 1) * 256"
            " + (instr('0123456789abcdef', substring(md5(term), 2, 1)) - 1) * 16"
            " + (instr('0123456789abcdef', substring(md5(term), 3, 1)) - 1)"
        ).alias("bucket"),
    )
    # Collapse the term stream to per-(doc, bucket) counts FIRST: the
    # three consumers below (target counts, raw counts, scoring) then
    # shuffle compressed rows (<= 4096 per doc) instead of raw terms,
    # and the per-doc score becomes sum(c * lr) over the compressed
    # form — the two-pass structure the DSIR paper's hashed features
    # are designed for.  ``localCheckpoint`` materializes the counts
    # ONCE: without it each consumer re-runs the tokenize + explode +
    # md5 pass over the whole corpus (the plan held 3 copies of the
    # scan→explode→hash chain, 13 exchanges total — guide §2.4), and
    # the materialized frame is the COMPRESSED per-(doc, bucket) form,
    # bounded by docs x 4096, never the raw term stream.
    counts = feats.groupBy("doc_id", "lang", "bucket").agg(
        F.count("*").alias("c")
    ).localCheckpoint(eager=True)
    tc = (
        counts.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.sum("c").alias("t_n"))
    )
    rc = (
        counts.filter(F.col("lang") != "en")
        .groupBy("bucket")
        .agg(F.sum("c").alias("r_n"))
    )
    tot = tc.crossJoin(rc.select(F.sum("r_n").alias("r_tot"))).select(
        F.sum("t_n").alias("t_tot"), F.first("r_tot").alias("r_tot")
    )
    half_k = F.lit(_DSIR_K * 0.5)
    lr = (
        rc.join(tc, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                (
                    F.log(
                        (F.coalesce("t_n", F.lit(0)) + 0.5)
                        / (F.col("t_tot") + half_k)
                    )
                    - F.log(
                        (F.col("r_n") + 0.5) / (F.col("r_tot") + half_k)
                    )
                )
                * 1000000,
                0,
            )
            .cast("bigint")
            .alias("lr_micro"),
        )
    )
    return (
        counts.filter(F.col("lang") != "en")
        .join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_terms"),
            F.sum(F.col("c") * F.col("lr_micro"))
            .cast("bigint")
            .alias("dsir_logweight_micro"),
            (F.sum(F.col("c") * F.col("lr_micro")) > 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


def _text_container_query(spark: SparkSession, sf_dir: str, make, dec) -> DataFrame:
    """A container scan whose builder takes the document text: ``dec``
    over ``make(doc_id, text)`` in one Python stage, in ``doc_id``
    order, with each kernel run once (``doc_range_query``)."""
    return doc_range_query(
        spark, sf_dir, lambda d: media_frame(d, make, dec), "doc_id",
        docs_fn=lambda d: d.select("doc_id", "text"),
    )


@query(
    "datapipe_warc_extract",
    # formulas mirror ingest.warc: n_pages = 2 + doc_id % 3, each page
    # a request+response record pair after one warcinfo; page k is 404
    # when (doc_id + k) % 5 = 0, its body wraps the text slice
    # [7k, 7k + 40 + 3k) in fixed HTML, and page 0's body carries the
    # 9-char "WARC/1.0 " content-length trap.  The record walk, HTTP
    # status parse, and tag stripping have no closed form.
    oracle="""
    WITH p AS (
      -- length(text), NOT n_chars: the perturbed fixtures deliberately
      -- break the n_chars==length(text) invariant, and the WARC bytes
      -- are built from the text itself on both engines
      SELECT doc_id, length(text) AS t_len, 2 + doc_id % 3 AS np
      FROM documents
    ),
    pg AS (
      SELECT doc_id, np, kk.k AS k,
             CASE WHEN (doc_id + kk.k) % 5 = 0 THEN 0 ELSE 1 END AS ok,
             GREATEST(0, LEAST(40 + 3 * kk.k, t_len - 7 * kk.k)) AS len,
             CASE WHEN kk.k = 0 THEN 9 ELSE 0 END AS extra
      FROM p, LATERAL (SELECT unnest(range(0, np)) AS k) kk
    )
    SELECT doc_id,
           CAST(1 + 2 * MAX(np) AS BIGINT) AS n_records,
           CAST(MAX(np) AS BIGINT) AS n_responses,
           CAST(SUM(ok) AS BIGINT) AS n_ok,
           CAST(SUM(ok * (len + extra)) AS BIGINT) AS sum_text_chars
    FROM pg
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def datapipe_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl-container extraction (ISO 28500) — the FIRST parse of
    a web-scale training pipeline: walk each document's WARC file
    record by record strictly by ``Content-Length`` (one body embeds a
    literal ``WARC/1.0`` marker, so magic-rescanning parsers miscount),
    split warcinfo/request/response types, parse HTTP status lines,
    DE-CHUNK responses shipped with ``Transfer-Encoding: chunked``
    (RFC 9112 §7.1 — hex size lines, extensions ignored, the zero
    terminator enforced; every third page arrives chunked),
    and strip HTML tags from 200 responses to count visible text.
    Odd docs arrive as ``.warc.gz`` in the Common Crawl layout — every
    record its own gzip member (trailers verified, exactly one record
    per member enforced) — so both forms of the container decode.
    Per-file work in ``decode_warc`` on the one codec host
    (``multimodal/host.py``), fused with the synth in a single Python
    stage and with no cross-row state — at 100 TB the same decoder maps
    over ``binaryFile`` rows of real crawl shards (``ingest/warc.py``)."""
    from ..ingest.warc import decode_warc, make_warc_bytes

    return _text_container_query(spark, sf_dir, make_warc_bytes, decode_warc)


@query(
    "datapipe_zip_extract",
    # formulas mirror ingest.archives: n_members = 2 + doc_id % 3,
    # member k's content is the char slice [5k, 5k + 30 + 2k) of text;
    # member 0's data carries a 4-byte local-header-signature trap that
    # the extractor strips.  The EOCD/central-directory walk and CRC-32
    # verification have no closed form.  length()/strlen() (not
    # n_chars) keep both engines on the same source column under the
    # perturbed fixtures.
    oracle="""
    WITH p AS (
      SELECT doc_id, text, length(text) AS t_len, 2 + doc_id % 3 AS np
      FROM documents
    ),
    m AS (
      SELECT doc_id, np,
             GREATEST(0, LEAST(30 + 2 * kk.k, t_len - 5 * kk.k)) AS chars,
             strlen(substr(text, 5 * kk.k + 1, 30 + 2 * kk.k))
               AS bytes
      FROM p, LATERAL (SELECT unnest(range(0, np)) AS k) kk
    )
    SELECT doc_id,
           CAST(MAX(np) AS BIGINT) AS n_members,
           CAST(SUM(chars) AS BIGINT) AS sum_content_chars,
           CAST(SUM(bytes) + 4 AS BIGINT) AS total_size
    FROM m
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def datapipe_zip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP archive extraction the only correct way: End-Of-Central-
    Directory from the tail, central-directory walk, local-header
    cross-validation, and per-member CRC-32 verification — one member
    embeds a literal ``PK\\x03\\x04`` so signature-scanning extractors
    miscount.  Member methods cycle store / raw-DEFLATE / bzip2 / LZMA
    (APPNOTE methods 0/8/12/14, all via stdlib codecs; other methods
    raise at the declared boundary); CRC-32 is verified over the
    decompressed bytes.  Every fourth doc arrives in ZIP64 form (APPNOTE 4.5 — the
    layout >4 GiB crawl archives use): sentinel EOCD counts resolved
    through the ZIP64 EOCD record + locator, and per-member sentinel
    sizes/offsets through 0x0001 extended-information extras in both
    the central and local headers (``ingest/archives.py``).  Same
    codec-host shape (one fused Python stage) and 100 TB posture as
    ``datapipe_warc_extract``."""
    from ..ingest.archives import decode_zip, make_zip_bytes

    return _text_container_query(spark, sf_dir, make_zip_bytes, decode_zip)


@query(
    "datapipe_tar_extract",
    # formulas mirror ingest.archives: same member slices as the ZIP
    # twin; total_size counts 512-byte blocks — 1 header + ceil(bytes /
    # 512) data blocks per member, 2 extra blocks per odd member (its
    # GNU @LongLink entry: header + <512-byte name), 2 extra blocks
    # when member 2 exists (its pax 'x' extended header: header +
    # <512-byte record data), + 2 end-of-archive blocks.  The ustar
    # header checksum (spaces rule), octal fields, and pax record
    # length rule have no closed form.
    oracle="""
    WITH p AS (
      SELECT doc_id, text, length(text) AS t_len, 2 + doc_id % 3 AS np
      FROM documents
    ),
    m AS (
      SELECT doc_id, np,
             GREATEST(0, LEAST(30 + 2 * kk.k, t_len - 5 * kk.k)) AS chars,
             strlen(substr(text, 5 * kk.k + 1, 30 + 2 * kk.k))
               AS bytes
      FROM p, LATERAL (SELECT unnest(range(0, np)) AS k) kk
    )
    SELECT doc_id,
           CAST(MAX(np) AS BIGINT) AS n_members,
           CAST(SUM(chars) AS BIGINT) AS sum_content_chars,
           CAST(2 + SUM(1 + (bytes + 511) // 512)
                + 2 * (MAX(np) // 2)
                + CASE WHEN MAX(np) >= 3 THEN 2 ELSE 0 END
                AS BIGINT) AS total_size
    FROM m
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def datapipe_tar_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ustar TAR extraction: 512-byte header blocks with the checksum-
    as-spaces rule verified, octal size fields, block-padded member
    data, and the two-zero-block archive terminator enforced — plus
    both long-path extensions a real crawl tarball uses: GNU 'L'
    @LongLink entries (odd members) and POSIX pax 'x' extended
    headers (member 2) with length-verified key=value records whose
    path/size overrides are checked against the following member
    (``ingest/archives.py``) — the tape-archive sibling of
    ``datapipe_zip_extract`` over identical member slices, so the two
    containers' extractions cross-check each other."""
    from ..ingest.archives import decode_tar, make_tar_bytes

    return _text_container_query(spark, sf_dir, make_tar_bytes, decode_tar)


@query(
    "datapipe_tfrecord_scan",
    # formulas mirror ingest.tfrecord: n_records = 2 + doc_id % 3,
    # record j's text feature is the char slice [6j, 6j + 25 + 3j) and
    # its packed int64_list is [doc_id*100 + j, j].  The framing CRCs
    # and the protobuf wire walk have no closed form; length(text)
    # keeps both engines on the same column under perturbed fixtures.
    oracle="""
    WITH p AS (
      SELECT doc_id, length(text) AS t_len, 2 + doc_id % 3 AS nr
      FROM documents
    ),
    r AS (
      SELECT doc_id, nr, jj.j AS j,
             GREATEST(0, LEAST(25 + 3 * jj.j, t_len - 6 * jj.j)) AS chars
      FROM p, LATERAL (SELECT unnest(range(0, nr)) AS j) jj
    )
    SELECT doc_id,
           CAST(MAX(nr) AS BIGINT) AS n_records,
           CAST(SUM(chars) AS BIGINT) AS sum_text_chars,
           CAST(SUM(doc_id * 100 + 2 * j) AS BIGINT) AS sum_ids
    FROM r
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def datapipe_tfrecord_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord scan — the container ML training pipelines write their
    tensorized data into: 8-byte-length framing with BOTH masked
    CRC-32Cs verified per record (reflected Castagnoli checksum, the
    TensorFlow rotate-and-offset mask), then a REAL protobuf wire walk
    of each ``tf.Example`` — varint tags, LEN-delimited nested
    messages, the map<string, Feature> entries, bytes_list and PACKED
    int64_list values — with unknown fields skipped by wire type
    (``ingest/tfrecord.py``).  Completes the dataset-container
    inventory: WARC in, ZIP/TAR through, TFRecord out."""
    from ..ingest.tfrecord import decode_tfrecord, make_tfrecord_bytes

    return _text_container_query(spark, sf_dir, make_tfrecord_bytes, decode_tfrecord)


@query(
    "datapipe_avro_scan",
    # formulas mirror ingest.avro: n_records = 2 + doc_id % 3 split
    # into 2-record blocks, record j carries id doc*10+j, a null body
    # every fifth (doc+j), body chars = the [4j, 4j+10+2j) text slice,
    # tags [doc%7 + j, 2j], score doc%100 + j/4 (reported in exact
    # quarters).  The container framing, sync markers, zigzag varints,
    # union/array block encodings, and deflate blocks have no closed
    # form; length(text) keeps both engines on the same column under
    # perturbed fixtures.
    oracle="""
    WITH p AS (
      SELECT doc_id, length(text) AS t_len, 2 + doc_id % 3 AS nr
      FROM documents
    ),
    r AS (
      SELECT doc_id, nr, jj.j AS j,
             CASE WHEN (doc_id + jj.j) % 5 = 0 THEN NULL
                  ELSE GREATEST(0, LEAST(10 + 2 * jj.j, t_len - 4 * jj.j))
             END AS chars
      FROM p, LATERAL (SELECT unnest(range(0, nr)) AS j) jj
    )
    SELECT doc_id,
           CAST(MAX(nr) AS BIGINT) AS n_records,
           CAST((MAX(nr) + 1) // 2 AS BIGINT) AS n_blocks,
           CAST(SUM(doc_id * 10 + j) AS BIGINT) AS sum_ids,
           CAST(COALESCE(SUM(chars), 0) AS BIGINT) AS sum_body_chars,
           CAST(SUM(CASE WHEN chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_bodies,
           CAST(SUM(doc_id % 7 + 3 * j) AS BIGINT) AS sum_tags,
           CAST(SUM(4 * (doc_id % 100) + j) AS BIGINT)
             AS sum_score_quarters
    FROM r
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def datapipe_avro_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro Object Container scan — the row-oriented interchange format
    data platforms hand training pipelines: header metadata map (JSON
    writer schema + codec), per-block count/size framing with the sync
    marker verified after EVERY block, block decompression through the
    spec's codec registry (the fixture cycles null / raw-DEFLATE /
    bzip2 / xz / SNAPPY — the snappy blocks decoded by the repo's own
    raw-format codec, ``ingest/snappy.py``, with the spec's big-endian
    CRC32 trailer verified; zstandard stays the declared stub), and a
    GENERIC schema-driven binary decode — zigzag
    varint longs, index-prefixed unions (nullable body), block-encoded
    arrays, IEEE doubles — with exact per-block byte-consumption
    accounting (``ingest/avro.py``).  Completes the dataset-container
    inventory beside WARC/ZIP/TAR/TFRecord."""
    from ..ingest.avro import decode_avro, make_avro_bytes

    return _text_container_query(spark, sf_dir, make_avro_bytes, decode_avro)


@query(
    "datapipe_avro_evolution_scan",
    # formulas mirror ingest.avro AVRO_WRITER_V1 records read under
    # AVRO_READER_V2: same generators as datapipe_avro_scan (ids
    # doc*10+j, null body every fifth, quarter-exact scores), but the
    # reader DROPS tags (skipped inside every record), PROMOTES id
    # int->long and score float->double, and fills lang='en' from its
    # default — so n_default_lang = n_records and sum_tags is gone.
    # The resolution walk itself (by-name field matching in writer
    # byte order) has no closed form.
    oracle="""
    WITH p AS (
      SELECT doc_id, length(text) AS t_len, 2 + doc_id % 3 AS nr
      FROM documents
    ),
    r AS (
      SELECT doc_id, nr, jj.j AS j,
             CASE WHEN (doc_id + jj.j) % 5 = 0 THEN NULL
                  ELSE GREATEST(0, LEAST(10 + 2 * jj.j, t_len - 4 * jj.j))
             END AS chars
      FROM p, LATERAL (SELECT unnest(range(0, nr)) AS j) jj
    )
    SELECT doc_id,
           CAST(MAX(nr) AS BIGINT) AS n_records,
           CAST(SUM(doc_id * 10 + j) AS BIGINT) AS sum_ids,
           CAST(COALESCE(SUM(chars), 0) AS BIGINT) AS sum_body_chars,
           CAST(SUM(CASE WHEN chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_bodies,
           CAST(SUM(4 * (doc_id % 100) + j) AS BIGINT)
             AS sum_score_quarters,
           CAST(MAX(nr) AS BIGINT) AS n_default_lang
    FROM r
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def datapipe_avro_evolution_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Avro SCHEMA RESOLUTION (Avro 1.11 spec) — the evolution contract
    that keeps years-old shards readable: containers written under the
    V1 writer schema (int ids, float scores, a tags array) are read
    through the V2 reader schema, which PROMOTES id int->long and
    score float->double, RETIRES tags (the resolver must decode and
    discard it inside every record), ADDS lang with default 'en', and
    declares its fields in a different order (resolution is by NAME;
    the byte stream follows writer order).  A reader that applies the
    reader schema positionally, skips promotion, or mis-skips the
    retired array mis-decodes every downstream field
    (``ingest/avro.py:resolve_decode``).  Reference scope note: the
    reference delegates format evolution to its warehouse; this is
    part of the training-data-pipeline surface the brief adds."""
    from ..ingest.avro import decode_avro_evolved, make_avro_v1_bytes

    return _text_container_query(spark, sf_dir, make_avro_v1_bytes, decode_avro_evolved)


@query(
    "datapipe_gzip_jsonl_scan",
    # formulas mirror ingest.archives gzip_*: 1 + doc % 3 concatenated
    # members, member i holding 2 + (doc+i) % 4 JSON lines, line (i,l)
    # carrying id doc*100 + 10i + l and the text slice
    # [3(i+l), 3(i+l) + 8 + l).  The gzip header-flag walk, deflate
    # members, CRC-32/ISIZE trailers, and JSON decode have no closed
    # form; length(text) keeps both engines on the same column under
    # perturbed fixtures.
    oracle="""
    WITH p AS (
      SELECT doc_id, length(text) AS t_len, 1 + doc_id % 3 AS nm
      FROM documents
    ),
    m AS (
      SELECT doc_id, nm, t_len, ii.i AS i, 2 + (doc_id + ii.i) % 4 AS nl
      FROM p, LATERAL (SELECT unnest(range(0, nm)) AS i) ii
    ),
    l AS (
      SELECT doc_id, nm, i, ll.l AS l,
             doc_id * 100 + 10 * i + ll.l AS id,
             GREATEST(0, LEAST(8 + ll.l, t_len - 3 * (i + ll.l)))
               AS chars
      FROM m, LATERAL (SELECT unnest(range(0, nl)) AS l) ll
    )
    SELECT doc_id,
           CAST(MAX(nm) AS BIGINT) AS n_members,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(id) AS BIGINT) AS sum_ids,
           CAST(SUM(chars) AS BIGINT) AS sum_text_chars
    FROM l
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def datapipe_gzip_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-member .jsonl.gz scan — the compressed-shard shape web
    corpora actually ship: per member a REAL RFC 1952 header walk
    (FEXTRA length-prefixed subfields, zero-terminated FNAME, FHCRC
    header checksums VERIFIED as the low 16 bits of CRC-32 over the
    header, reserved FLG-bit rejection), raw-DEFLATE decompression,
    CRC-32 AND ISIZE
    trailer verification over the decompressed text, then JSON decode
    of every line — and the member loop itself, since readers that
    stop at the first trailer silently drop the rest of a concatenated
    file (``ingest/archives.py``)."""
    from ..ingest.archives import decode_gzip_jsonl, make_gzip_jsonl_bytes

    return _text_container_query(spark, sf_dir, make_gzip_jsonl_bytes, decode_gzip_jsonl)


@query(
    "datapipe_zstd_scan",
    # formulas mirror ingest.zstd: 1 + doc % 3 frames (every third doc
    # led by a skippable frame), frame i carrying a RAW block of
    # 20 + (doc+5i) % 40 bytes (doc+i+j) % 256, an RLE block of
    # 10 + (doc+3i) % 50 copies of 65 + (doc+i) % 26, and a COMPRESSED
    # block whose Huffman literals are (doc+i+j) % 8 and whose
    # FSE-coded sequences splice matches from the RLE run, the raw
    # payload (at offsets 3 and 5+ml1), and a Repeat1 reuse — or, on
    # RLE-mode docs, two offset-15 matches into the RLE run; frames
    # with (doc+i) % 7 == 3 (non-RLE) append a SECOND compressed
    # block — treeless literals + repeat-mode tables — whose match
    # pulls ml1 more RLE-run bytes.  The backward bitstreams, FSE
    # state walks, Huffman table build, and XXH64 checksums have no
    # closed form; the oracle restates the generator arithmetic per
    # 'kind' of decoded byte.
    oracle="""
    WITH f AS (
      SELECT doc_id, ff.i AS i,
             doc_id + ff.i AS k,
             20 + (doc_id + 5 * ff.i) % 40 AS raw_n,
             10 + (doc_id + 3 * ff.i) % 50 AS rle_n,
             65 + (doc_id + ff.i) % 26 AS rle_b,
             12 + (doc_id + ff.i) % 8 AS n_lit,
             4 + (doc_id + ff.i) % 4 AS ll0,
             4 + (doc_id + ff.i) % 6 AS ml1,
             3 + (doc_id + ff.i) % 4 AS ml2,
             ((doc_id + ff.i) % 3 != 0
              AND (doc_id + ff.i) % 4 = 2) AS rle_mode,
             ((doc_id + ff.i) % 7 = 3
              AND NOT ((doc_id + ff.i) % 3 != 0
                       AND (doc_id + ff.i) % 4 = 2)) AS has4
      FROM documents,
           LATERAL (SELECT unnest(range(0, 1 + doc_id % 3)) AS i) ff
    ),
    parts AS (
      -- raw-block bytes
      SELECT doc_id, i, (k + jj.j) % 256 AS v
      FROM f, LATERAL (SELECT unnest(range(0, raw_n)) AS j) jj
      UNION ALL
      -- RLE block plus the compressed blocks' RLE-sourced matches
      -- (block 4's repeat-mode match adds ml1 more copies)
      SELECT doc_id, i,
             rle_b * (rle_n + CASE WHEN rle_mode THEN 20 ELSE 3 END
                      + CASE WHEN has4 THEN ml1 ELSE 0 END)
      FROM f
      UNION ALL
      -- Huffman literals
      SELECT doc_id, i, (k + jj.j) % 8
      FROM f, LATERAL (SELECT unnest(range(0, n_lit)) AS j) jj
      UNION ALL
      -- block 4's treeless literals
      SELECT doc_id, i, (k + jj.j) % 8
      FROM f, LATERAL (SELECT unnest([0, 1, 2, 3]) AS j) jj
      WHERE has4
      UNION ALL
      -- matches into the raw payload (predefined-FSE docs only):
      -- payload[3 .. 3+ml1) and payload[5+ml1 .. 5+ml1+ml2)
      SELECT doc_id, i, (k + 3 + jj.j) % 256
      FROM f, LATERAL (SELECT unnest(range(0, ml1)) AS j) jj
      WHERE NOT rle_mode
      UNION ALL
      SELECT doc_id, i, (k + 5 + ml1 + jj.j) % 256
      FROM f, LATERAL (SELECT unnest(range(0, ml2)) AS j) jj
      WHERE NOT rle_mode
    ),
    sums AS (
      SELECT doc_id, SUM(v) AS c_sum
      FROM parts GROUP BY doc_id
    ),
    meta AS (
      SELECT doc_id,
             COUNT(*) AS nf,
             SUM(raw_n + rle_n + n_lit
                 + CASE WHEN rle_mode THEN 20
                        ELSE 3 + ml1 + ml2 END
                 + CASE WHEN has4 THEN 4 + ml1 ELSE 0 END) AS c_bytes,
             SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS n_ck,
             SUM(CASE WHEN has4 THEN 1 ELSE 0 END) AS n4
      FROM f GROUP BY doc_id
    )
    SELECT m.doc_id,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(CASE WHEN m.doc_id % 3 = 0 THEN 1 ELSE 0 END
                AS BIGINT) AS n_skippable,
           CAST(3 * nf + n4 AS BIGINT) AS n_blocks,
           CAST(c_bytes AS BIGINT) AS content_bytes,
           CAST(c_sum AS BIGINT) AS content_sum,
           CAST(n_ck AS BIGINT) AS n_checksums
    FROM meta m JOIN sums s ON m.doc_id = s.doc_id
    ORDER BY m.doc_id
    """,
)
def datapipe_zstd_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zstandard (.zst) frame decode (RFC 8878) — THE compression
    format web-scale training corpora ship, decoded from the byte
    level with no codec library: concatenated frames (skippable
    metadata frames stepped over), frame-header descriptor decode,
    raw and RLE blocks, and FULL compressed blocks — Huffman-coded
    literals (direct-weights table build with the implied-last-weight
    power-of-two completion, canonical slot assignment, backward
    bitstreams with 1-sentinels, 1-stream and 4-stream layouts),
    FSE-coded sequences through the spec's PREDEFINED distributions
    (structurally gated: each must normalize to exactly
    1 << accuracy_log), FSE-DESCRIBED tables (truncated-binary
    normalized-count headers with zero-run repeat flags), RLE-mode
    degenerate tables, and REPEAT mode reusing the frame's previous
    tables; TREELESS literals reusing the frame's previous Huffman
    table; frame-scoped repeat-offset history; the interleaved
    state/extra-bit walk; overlap-safe match execution against the
    window — plus REAL XXH64 content checksums (implemented from the
    spec constants, validated against the published test vectors).
    Huffman weight headers decode in BOTH forms: direct 4-bit weights
    and FSE-COMPRESSED (table description + the two-state interleaved
    backward stream, RFC 4.2.1.2 — frames with (doc+i) % 5 == 1 ship
    that form).  Dictionary frames are covered by
    datapipe_zstd_dict_scan.
    Reference scope note: the reference delegates storage formats to
    its warehouse; this query is part of the training-data-pipeline
    surface the brief adds."""
    from ..ingest.zstd import decode_zstd, make_zstd_bytes

    return media_query(spark, sf_dir, make_zstd_bytes, decode_zstd, "doc_id")


@query(
    "datapipe_zstd_dict_scan",
    # formulas mirror ingest.zstd dict fixtures: dictionary ids
    # d1 = 300 + doc % 50 (formatted) and d2 = 40 + doc % 30 (raw
    # content), dict content (D + 3j) % 256 over 40 + D % 24 bytes.
    # Frame 0 splices treeless literals (doc+j) % 8 with dict slices
    # [2, 2+m1) and [t, t+m2) (t = ll0+m1+2); frame 1 splices raw
    # literals (2*doc+j) % 256 with dict slice [1, 1+m3).
    oracle="""
    WITH f AS (
      SELECT doc_id,
             300 + doc_id % 50 AS d1,
             40 + doc_id % 30 AS d2,
             10 + doc_id % 6 AS n_lit,
             3 + doc_id % 3 AS ll0,
             4 + doc_id % 4 AS m1,
             3 + doc_id % 3 AS m2,
             8 + doc_id % 5 AS n_lit2,
             3 + doc_id % 5 AS m3
      FROM documents
    ),
    parts AS (
      SELECT doc_id, (doc_id + jj.j) % 8 AS v
      FROM f, LATERAL (SELECT unnest(range(0, n_lit)) AS j) jj
      UNION ALL
      SELECT doc_id, (d1 + 3 * (2 + jj.j)) % 256
      FROM f, LATERAL (SELECT unnest(range(0, m1)) AS j) jj
      UNION ALL
      SELECT doc_id, (d1 + 3 * (ll0 + m1 + 2 + jj.j)) % 256
      FROM f, LATERAL (SELECT unnest(range(0, m2)) AS j) jj
      UNION ALL
      SELECT doc_id, (2 * doc_id + jj.j) % 256
      FROM f, LATERAL (SELECT unnest(range(0, n_lit2)) AS j) jj
      UNION ALL
      SELECT doc_id, (d2 + 3 * (1 + jj.j)) % 256
      FROM f, LATERAL (SELECT unnest(range(0, m3)) AS j) jj
    )
    SELECT f.doc_id,
           CAST(2 AS BIGINT) AS n_frames,
           CAST(2 AS BIGINT) AS n_blocks,
           CAST(n_lit + m1 + m2 + n_lit2 + m3 AS BIGINT)
             AS content_bytes,
           CAST(s.c_sum AS BIGINT) AS content_sum,
           CAST(d1 + d2 AS BIGINT) AS dict_ids_sum,
           CAST(2 AS BIGINT) AS n_checksums
    FROM f JOIN (
      SELECT doc_id, SUM(v) AS c_sum FROM parts GROUP BY doc_id
    ) s ON f.doc_id = s.doc_id
    ORDER BY f.doc_id
    """,
)
def datapipe_zstd_dict_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-keyed zstandard frames (RFC 8878 §5) — the standard
    shard-compression trick for training corpora (one shared dict,
    many small frames).  Per doc, TWO dictionary-referencing frames
    decode: frame 0 against a FORMATTED dictionary (magic 0xEC30A437,
    entropy tables — Huffman weights plus OF/ML/LL FSE table
    descriptions — recent offsets, content), carrying a
    TREELESS-literals + REPEAT-mode block whose entropy state comes
    entirely from the dictionary, one match reaching into the
    dictionary window and one resolving a DICT-SEEDED repeat offset;
    frame 1 against a RAW-CONTENT dictionary (window bytes only),
    matching into it through predefined tables.  Dictionary-ID
    fields exercise 1-, 2-, and 4-byte widths; both frames verify
    REAL XXH64 checksums, and a frame referencing an unknown or
    ID-mismatched dictionary rejects.
    Reference scope note: the reference delegates storage formats to
    its warehouse; this query is part of the training-data-pipeline
    surface the brief adds."""
    from ..ingest.zstd import decode_zstd_dict, make_zstd_dict_bytes

    return media_query(spark, sf_dir, make_zstd_dict_bytes, decode_zstd_dict, "doc_id")


@query(
    "datapipe_sliding_chunks",
    # size-32 chunks at stride 24 (8-token overlap): chunk i spans
    # tokens [24i, 24i+32); chunks start while 24i < n_tokens; both
    # engines emit (doc, chunk_idx, token count, first token) rows —
    # pure integer boundary math plus one array index, an EXACT
    # row-set oracle.
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w
      FROM documents WHERE doc_id < 60
    ),
    chunks AS (
      SELECT doc_id, cc.i AS chunk_idx,
             LEAST(32, len(w) - 24 * cc.i) AS chunk_tokens,
             w[24 * cc.i + 1] AS first_tok
      FROM t,
           LATERAL (
             SELECT unnest(range(0,
               CAST(CEIL(GREATEST(len(w) - 8, 1) / 24.0) AS BIGINT)
             )) AS i
           ) cc
      WHERE 24 * cc.i < len(w)
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_tokens AS BIGINT) AS chunk_tokens, first_tok
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
)
def datapipe_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking with overlap — the RAG-standard
    document splitter (beside the pack/greedy-pack operators, which
    CONCATENATE for pretraining; this one SPLITS for retrieval):
    size-32 token chunks at stride 24, so consecutive chunks share an
    8-token overlap and no token is more than one boundary from a
    chunk interior.  Emits one row per (doc, chunk) with the chunk's
    token count and first token — exact row-set checked.  Scale: one
    tokenize + a per-row sequence explode, no shuffle at all until a
    downstream consumer groups; chunk boundaries are pure integer
    functions of the token count, so the operator is deterministic
    under any partitioning."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 60
    )
    t = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("w")
    ).withColumn("n", F.size("w"))
    return (
        t.select(
            "doc_id", "w", "n",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.floor((F.greatest(F.col("n") - 8, F.lit(1)) - 1) / 24)
                    .cast("int"),
                )
            ).alias("chunk_idx"),
        )
        .filter(24 * F.col("chunk_idx") < F.col("n"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long"),
            F.least(F.lit(32), F.col("n") - 24 * F.col("chunk_idx"))
            .cast("long")
            .alias("chunk_tokens"),
            F.element_at("w", 24 * F.col("chunk_idx") + 1).alias(
                "first_tok"
            ),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "datapipe_lz4_scan",
    # formulas mirror ingest.lz4: 1 + doc % 3 frames (doc % 4 == 1
    # led by a skippable frame), frame i (k = doc+i) carrying a
    # compressed block — n_lit = 20 + (doc+5i) % 40 literals
    # (k+j) % 256, an m = 8 + k % 10 byte match at offset
    # o = 5 + k % 12 whose OVERLAP copies have period o (byte j =
    # (k + n_lit - o + j%o) % 256), and t = 6 + k % 7 tail literals
    # (3doc+i+j) % 256 — then block 2: u = 10 + (doc+3i) % 20
    # uncompressed bytes (2doc+i+j) % 256, prefixed on LINKED frames
    # (k % 3 == 2) by m bytes matched from block 1 ((k+2+j) % 256).
    # The token/extension layer, checksums, and window mechanics have
    # no closed form.
    oracle="""
    WITH f AS (
      SELECT doc_id, ff.i AS i,
             doc_id + ff.i AS k,
             20 + (doc_id + 5 * ff.i) % 40 AS n_lit,
             8 + (doc_id + ff.i) % 10 AS m,
             5 + (doc_id + ff.i) % 12 AS o,
             6 + (doc_id + ff.i) % 7 AS t,
             10 + (doc_id + 3 * ff.i) % 20 AS u,
             ((doc_id + ff.i) % 3 = 2) AS linked
      FROM documents,
           LATERAL (SELECT unnest(range(0, 1 + doc_id % 3)) AS i) ff
    ),
    parts AS (
      SELECT doc_id, (k + jj.j) % 256 AS v
      FROM f, LATERAL (SELECT unnest(range(0, n_lit)) AS j) jj
      UNION ALL
      SELECT doc_id, (k + n_lit - o + (jj.j % o)) % 256
      FROM f, LATERAL (SELECT unnest(range(0, m)) AS j) jj
      UNION ALL
      SELECT doc_id, (3 * doc_id + i + jj.j) % 256
      FROM f, LATERAL (SELECT unnest(range(0, t)) AS j) jj
      UNION ALL
      SELECT doc_id, (2 * doc_id + i + jj.j) % 256
      FROM f, LATERAL (SELECT unnest(range(0, u)) AS j) jj
      UNION ALL
      SELECT doc_id, (k + 2 + jj.j) % 256
      FROM f, LATERAL (SELECT unnest(range(0, m)) AS j) jj
      WHERE linked
    ),
    meta AS (
      SELECT doc_id,
             COUNT(*) AS nf,
             SUM(n_lit + m + t + u
                 + CASE WHEN linked THEN m ELSE 0 END) AS c_bytes,
             SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS n_ck
      FROM f GROUP BY doc_id
    )
    SELECT m.doc_id,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(CASE WHEN m.doc_id % 4 = 1 THEN 1 ELSE 0 END
                AS BIGINT) AS n_skippable,
           CAST(2 * nf AS BIGINT) AS n_blocks,
           CAST(c_bytes AS BIGINT) AS content_bytes,
           CAST(s.c_sum AS BIGINT) AS content_sum,
           CAST(n_ck AS BIGINT) AS n_checksums
    FROM meta m JOIN (
      SELECT doc_id, SUM(v) AS c_sum FROM parts GROUP BY doc_id
    ) s ON m.doc_id = s.doc_id
    ORDER BY m.doc_id
    """,
)
def datapipe_lz4_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LZ4 frame decode (the public lz4 Frame & Block format specs) —
    the low-latency compression format shipped beside zstd in
    training corpora (.jsonl.lz4 shards, Kafka/Arrow payloads),
    decoded from the byte level with no codec library: concatenated
    frames with skippable metadata frames stepped over, the frame
    descriptor (version, block independence, all three checksum
    flags, optional content size, block max-size codes) with its
    XXH32-derived header-checksum byte VERIFIED, compressed blocks
    through the token/extension sequence layer (literal and match
    lengths crossing the 15-threshold, overlap-safe match copies),
    uncompressed blocks (high-bit size flag), BLOCK-LINKED frames
    whose matches reach into earlier blocks, per-block and
    whole-content XXH32 checksums (implemented from the published
    constants, validated against the published vectors), the
    EndMark, and the content-size cross-check.  The format has no
    empirical tables — every structure is derived from the spec's
    algorithms.
    Reference scope note: the reference delegates storage formats to
    its warehouse; this query is part of the training-data-pipeline
    surface the brief adds."""
    from ..ingest.lz4 import decode_lz4, make_lz4_bytes

    return media_query(spark, sf_dir, make_lz4_bytes, decode_lz4, "doc_id")


@query(
    "datapipe_pdf_text_extract",
    # formulas mirror ingest.pdf: 2 + doc % 3 pages, page p carrying
    # the text slice [7p, 7p + 24 + 3p) (clamped) plus two injected
    # parentheses on page 0; the file holds 2 + 2*n_pages objects and
    # one content stream per page, every other one FlateDecode-
    # compressed.  The xref walk, /Length framing, inflate, and
    # Tj-operator string-literal unescaping have no closed form.
    oracle="""
    WITH p AS (
      SELECT doc_id, 2 + doc_id % 3 AS np, LENGTH(text) AS t_len
      FROM documents
    ),
    pg AS (
      SELECT doc_id, np,
             GREATEST(0, LEAST(24 + 3 * pp.p, t_len - 7 * pp.p))
               + CASE WHEN pp.p = 0 THEN 2 ELSE 0 END AS chars
      FROM p, LATERAL (SELECT unnest(range(0, np)) AS p) pp
    )
    SELECT doc_id,
           CAST(2 + 2 * MAX(np) AS BIGINT) AS n_objects,
           CAST(MAX(np) AS BIGINT) AS n_pages,
           CAST(MAX(np) AS BIGINT) AS n_streams,
           CAST(MAX(np) // 2 AS BIGINT) AS n_flate,
           CAST(SUM(chars) AS BIGINT) AS text_chars
    FROM pg
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def datapipe_pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text extraction (ISO 32000-1) — the crawl format training
    pipelines most often need text OUT of, beside WARC bodies: the
    walk goes startxref -> xref table (20-byte entries, offsets
    validated against the object headers they point at — one
    uncompressed content stream embeds a phantom out-of-range object
    header so a parser that scans for object keywords instead of
    walking the cross-reference table miscounts), trailer /Size and
    /Encrypt
    checks, stream payloads sliced by /Length with the endstream
    keyword enforced, FlateDecode through stdlib zlib, and page text
    recovered by executing Tj show operators with string-literal
    escapes (parens, backslash, octal) undone.  Cross-reference
    streams (PDF 1.5+), object streams, encryption, and non-Flate
    filters raise at the declared boundary (``ingest/pdf.py``).  Same
    codec-host shape (one fused Python stage) and 100 TB posture as the
    other container extractors."""
    from ..ingest.pdf import decode_pdf, make_pdf_bytes

    return _text_container_query(spark, sf_dir, make_pdf_bytes, decode_pdf)


@query(
    "datapipe_subtitle_extract",
    # formulas mirror ingest.pdf srt_*: 3 + doc % 4 cues, every cue
    # 1200 + 100*(doc % 5) ms long; cue i's first line is the clamped
    # slice [5i, 5i + 18 + 2i) of the text (whitespace mapped to "_"
    # length-preserving, "-" when empty) and a second line
    # [40 + 3i, 40 + 3i + 11 + i) appears when (doc + i) is even.  The timestamp decomposition, dialect dispatch
    # (SRT comma vs WebVTT dot, cue numbers vs none), and monotonicity
    # checks have no closed form.
    oracle="""
    WITH p AS (
      SELECT doc_id, 3 + doc_id % 4 AS nc, text
      FROM documents
    ),
    cue AS (
      SELECT doc_id, nc,
             GREATEST(1, LENGTH(SUBSTR(text, 5 * ii.i + 1,
                                       18 + 2 * ii.i))) AS l1,
             CASE WHEN (doc_id + ii.i) % 2 = 0
                  THEN GREATEST(1, LENGTH(SUBSTR(text,
                                                 40 + 3 * ii.i + 1,
                                                 11 + ii.i)))
                  ELSE 0 END AS l2,
             CASE WHEN (doc_id + ii.i) % 2 = 0 THEN 2 ELSE 1 END
               AS lines
      FROM p, LATERAL (SELECT unnest(range(0, nc)) AS i) ii
    )
    SELECT doc_id,
           CAST(doc_id % 2 AS BIGINT) AS is_vtt,
           CAST(MAX(nc) AS BIGINT) AS n_cues,
           CAST(MAX(nc) * (1200 + 100 * (doc_id % 5)) AS BIGINT)
             AS total_duration_ms,
           CAST(SUM(l1 + l2) AS BIGINT) AS text_chars,
           CAST(SUM(lines) AS BIGINT) AS n_lines
    FROM cue
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def datapipe_subtitle_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtitle/caption extraction (SubRip + WebVTT) — the aligned-text
    format video corpora carry for transcript mining: a single parser
    dispatches on the WEBVTT header (dot vs comma millisecond
    separators, numbered vs unnumbered cues), decomposes
    ``HH:MM:SS?mmm --> HH:MM:SS?mmm`` timings back to milliseconds,
    enforces end-after-start and monotone cue order, and measures the
    payload lines.  Malformed timings, out-of-sequence cue numbers,
    and cue blocks without text raise (``ingest/pdf.py``).  Same
    codec-host shape (one fused Python stage) and 100 TB posture as the
    other text extractors."""
    from ..ingest.pdf import decode_subtitles, make_subtitle_bytes

    return _text_container_query(spark, sf_dir, make_subtitle_bytes, decode_subtitles)
