"""Training-data pipeline operators — dedup families, similarity search,
text analysis — as first-class DataFrame queries with DuckDB oracles.

These are the large-scale data-curation operations a 100 TB training-data
pipeline needs on top of the crawl (documents/embeddings tables):

- exact dedup (hash-groupBy), MinHash+LSH near-dup (shingle → minhash →
  band → bucket-join), SimHash, n-gram Jaccard verification,
  embedding-cosine near-dup;
- approximate nearest neighbours: brute-force cosine top-k baseline and an
  LSH-bucketed candidate-generation variant (the scale path: bucket
  equi-join replaces the O(n²) cross join);
- language-ID (stopword-hit heuristic), quality scoring, token counting
  (whitespace + BPE-ish regex), document fingerprinting.

Cross-engine determinism: all hashing is md5 (identical hex in Spark and
DuckDB); minhash = lexicographic MIN over md5 hex strings; SimHash bit
arithmetic is integer-only; LSH hyperplanes are PRECOMPUTED python literals
inlined into both the Spark plan and the SQL (no trig at query time);
float32 embeddings are cast to float64 before any arithmetic.

Scale notes (100 TB design): every self-join here goes through a bucket
(band / LSH bucket / hash prefix) equi-join — never a cross join; the
shuffle key is the bucket, and AQE handles band skew. MinHash bands are
independent columns so band-joins parallelize; at 10^10 docs you'd salt the
hottest band buckets exactly like the crawl salts hot domains.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from realestate_scraper_spark.session import fan_out

REGISTRY: dict = {}

# Embedding dimensionality (the synthetic corpus and the LSH planes both
# pin 64); kept as the dot/norm helpers' width parameter.
EMB_DIMS = 64


def _emb_double(col):
    """array<float> → array<double> via a plain Cast (codegen, elementwise
    widening) — replaces the per-element ``transform(x → cast)`` lambda,
    which as a higher-order function evaluates INTERPRETED per row."""
    return F.col(col).cast("array<double>") if isinstance(col, str) else col.cast("array<double>")


def _dot_expr(a, b, dims: int = EMB_DIMS):
    """Dot product as the zip_with/aggregate fold.

    MEASURED negative result (r7): unrolling this into a 64-term
    ``element_at`` sum to escape the higher-order functions' interpreted
    CodegenFallback path made every consumer SLOWER (q41 1.8 → 3.8 s,
    q40 0.3 → 0.8 s): the unrolled tree exceeds codegen's method-size
    budget, the stage falls back to Volcano eval, and a 192-node
    interpreted Add/GetArrayItem tree per pair costs more than the fold's
    single lambda loop. The fold stays; parallelism comes from fan_out on
    the probe side instead."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sqnorm_expr(a, dims: int = EMB_DIMS):
    """Σ aᵢ² as the aggregate fold (see _dot_expr); caller sqrt()s."""
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)


def _cos_expr(a, b, dims: int = EMB_DIMS):
    return _dot_expr(a, b, dims) / (
        F.sqrt(_sqnorm_expr(a, dims)) * F.sqrt(_sqnorm_expr(b, dims))
    )


def _reg(name: str, oracle: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ------------------------------------------------------------- shared bits
N_SEEDS = 4  # minhash signature length
HEX = "0123456789abcdef"

# LSH hyperplanes: deterministic literals (sin grid rounded to 6 decimals at
# module import — NO trig inside either engine at query time). Plane count /
# dimensionality are production knobs; the oracle pins 8 × 64.
def lsh_planes(n_planes: int = 8, dims: int = 64) -> list[list[float]]:
    return [
        [round(math.sin(j * 131 + d * 7.0), 6) for d in range(dims)]
        for j in range(n_planes)
    ]


LSH_PLANES: list[list[float]] = lsh_planes(8, 64)


def _augmented_docs_sql() -> str:
    """documents ∪ mutated copies (doc_id+100000, one word appended) — the
    deterministic near-dup corpus both engines construct identically."""
    return """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text || ' extra' AS text
      FROM documents WHERE doc_id % 10 = 0
    """


def _augmented_docs(spark, sf_dir) -> DataFrame:
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    mut = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra")).alias("text"),
        )
    )
    return d.unionByName(mut)


def _shingles_expr(text_col):
    """3-word shingles; docs shorter than 3 words shingle to the whole text.

    The word split is BOUND once per row: the trigram transform runs under
    an outer one-element-array transform whose lambda variable holds the
    materialized split. Referencing the raw ``split(...)`` expression from
    inside the trigram lambda (the first cut) re-evaluated the regex split
    per element — higher-order lambdas are interpreted with no common-
    subexpression elimination across iterations, so shingling was
    O(words²) regex work per document (measured 6.6 s → 0.3 s for the
    sf0.1 corpus on this fix alone, array-identical output)."""
    words = F.split(F.trim(text_col), r"\s+")

    def _per_doc(ws):
        tri = F.transform(
            F.sequence(F.lit(0), F.size(ws) - 3),
            lambda i: F.concat_ws(
                " ", F.element_at(ws, i + 1), F.element_at(ws, i + 2),
                F.element_at(ws, i + 3)
            ),
        )
        return F.when(
            F.size(ws) < 3, F.array(F.trim(text_col))
        ).otherwise(tri)

    return F.element_at(F.transform(F.array(words), _per_doc), 1)


_SHINGLES_SQL = """
      CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 3
           THEN [trim(text)]
           ELSE list_transform(
                  range(1, len(regexp_split_to_array(trim(text), '\\s+')) - 1),
                  i -> regexp_split_to_array(trim(text), '\\s+')[i] || ' ' ||
                       regexp_split_to_array(trim(text), '\\s+')[i+1] || ' ' ||
                       regexp_split_to_array(trim(text), '\\s+')[i+2])
      END
"""


# Kirsch-Mitzenmacher modulus: h_s(x) = (h1(x) + s·h2(x)) mod P gives a
# hash family indexed by s from TWO base hashes (Kirsch & Mitzenmacher,
# "Less Hashing, Same Performance", ESA 2006) — one digest per shingle
# instead of one per (shingle, seed). P = 2^31-1 (prime) keeps
# h1 + s·h2 < 2^39 at any practical width, far from BIGINT overflow, and
# the arithmetic is engine-portable (the DuckDB oracle computes the same
# integers).
_KM_P = 2_147_483_647


def minhash_signatures(spark, sf_dir, n_seeds: int = N_SEEDS) -> DataFrame:
    """(doc_id, sig0..sig{n-1}): per-seed min over the Kirsch-Mitzenmacher
    family h_s = (h1 + s·h2) mod P, where h1/h2 are the two 60-bit halves
    of ONE md5 per shingle (hex→int via conv, identical to the oracle's
    ``CAST('0x'||substr(md5(x),…) AS BIGINT)``). ``n_seeds`` is the
    production width knob (the oracle pins the toy N_SEEDS=4; a real
    pipeline runs 64-128 — K-M makes that 1 digest/shingle, not 128).

    Shape: explode shingles → codegen'd digest projection (the double
    ``md5`` is CSE'd inside whole-stage codegen) → HashAggregate of
    n_seeds BIGINT mins (primitive buffers hash-aggregate; the md5-string
    mins of the first cut fell to a SortAggregate). With map-side partial
    combine the exchange carries one row per document — exactly the
    signature table any downstream LSH banding materializes anyway.

    Not an array-expression one-liner on purpose: per-seed
    ``array_min(transform(hashes, …))`` columns would be pure row-local
    zero-shuffle Spark, but higher-order lambdas evaluate INTERPRETED and
    the optimizer inlines the shared hash array into every seed column,
    re-digesting per seed — measured slower at width 4 and degrading
    linearly with width. The explode keeps every hot expression inside
    codegen."""
    # fan_out: the shingle explode + per-shingle md5/conv digest pipeline
    # (the expensive part) runs ABOVE the scan; single-row-group input pins
    # it to one task without this (guide §2.5 input skew; no-op at scale)
    docs = fan_out(
        _augmented_docs(spark, sf_dir), "doc_id",
        path=f"{sf_dir}/documents.parquet",
    )
    sh = docs.select(
        "doc_id", F.explode(_shingles_expr(F.col("text"))).alias("sh")
    )

    def _h(off: int):
        return (
            F.conv(F.substring(F.md5("sh"), off, 15), 16, 10).cast("long")
            % _KM_P
        )

    hp = sh.select("doc_id", _h(1).alias("h1"), _h(17).alias("h2"))
    return hp.groupBy("doc_id").agg(
        *[
            F.min((F.col("h1") + s * F.col("h2")) % _KM_P).alias(f"sig{s}")
            for s in range(n_seeds)
        ]
    )


def minhash_band_pairs(
    spark,
    sf_dir,
    n_seeds: int = N_SEEDS,
    rows_per_band: int = 2,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """LSH banding at ANY (n_seeds, rows_per_band): candidate pairs sharing
    at least one full band — the union of one bucket equi-join per band,
    deduped. Each band join shuffles on its own band key (canonical LSH at
    scale: bands are independent, so the joins parallelize; salt hot band
    buckets like hot crawl domains)."""
    if sigs is None:
        sigs = minhash_signatures(spark, sf_dir, n_seeds).cache()
    n_bands = n_seeds // rows_per_band
    # ONE self-join on an exploded exact band key instead of one join per
    # band + union: each signature row becomes n_bands (band, values) keys
    # (encoded as an exact string — never a lossy hash, a collision would
    # FABRICATE a candidate pair), pairs agreeing on several bands collapse
    # in the same DISTINCT the union needed anyway. Same pair set, n_bands
    # joins → 1. ``concat`` (not ``concat_ws``, which skips NULLs): a NULL
    # signature makes the band key NULL, so it never joins — the per-band
    # equality join's semantics.
    keys = F.array(
        *[
            F.concat(
                F.lit(str(band)),
                *[
                    part
                    for j in range(rows_per_band)
                    for part in (
                        F.lit("|"),
                        F.col(f"sig{band * rows_per_band + j}").cast("string"),
                    )
                ],
            )
            for band in range(n_bands)
        ]
    )
    kb = sigs.select("doc_id", F.explode(keys).alias("band_key"))
    a, b = kb.alias("a"), kb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


_MINHASH_SQL = f"""
    WITH docs AS ({_augmented_docs_sql()}),
    sh AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM docs),
    hp AS (SELECT doc_id,
             CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT)
               % 2147483647 AS h1,
             CAST(('0x' || substr(md5(sh), 17, 15)) AS BIGINT)
               % 2147483647 AS h2
           FROM sh)
    SELECT doc_id,
           MIN((h1 + 0 * h2) % 2147483647) AS sig0,
           MIN((h1 + 1 * h2) % 2147483647) AS sig1,
           MIN((h1 + 2 * h2) % 2147483647) AS sig2,
           MIN((h1 + 3 * h2) % 2147483647) AS sig3
    FROM hp GROUP BY doc_id
"""


# --------------------------------------------------------------------- q30
@_reg(
    "q30_dedup_exact",
    """
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS group_size
    FROM (SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0)
    GROUP BY md5(text)
    """,
)
def q30_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy keep-min — the canonical first pass of any
    training-data pipeline. Exact copies constructed deterministically.

    Scale: one shuffle on the 128-bit content hash; at 100 TB hash first,
    never shuffle raw text (project text_hash before the exchange)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return (
        d.unionByName(dup)
        .select("doc_id", F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("group_size"),
        )
    )


# --------------------------------------------------------------------- q31
@_reg("q31_minhash_signatures", _MINHASH_SQL)
def q31_minhash_signatures(spark, sf_dir):
    """MinHash signatures: per-seed min of the Kirsch-Mitzenmacher family
    (h1 + s·h2 mod P, one md5 per shingle) — codegen'd digest projection
    into a HashAggregate of BIGINT mins (see minhash_signatures for why
    this beats both the md5-string SortAggregate it replaced and the
    zero-shuffle array-expression form).

    The integer arithmetic is byte-identical across engines (the DuckDB
    oracle computes the same mins via unnest+GROUP BY)."""
    return minhash_signatures(spark, sf_dir)


# --------------------------------------------------------------------- q32
@_reg(
    "q32_minhash_band_pairs",
    f"""
    WITH sigs AS ({_MINHASH_SQL}),
    band0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM sigs a JOIN sigs b
                ON a.sig0 = b.sig0 AND a.sig1 = b.sig1 AND a.doc_id < b.doc_id),
    band1 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM sigs a JOIN sigs b
                ON a.sig2 = b.sig2 AND a.sig3 = b.sig3 AND a.doc_id < b.doc_id)
    SELECT DISTINCT doc_a, doc_b
    FROM (SELECT * FROM band0 UNION ALL SELECT * FROM band1)
    """,
)
def q32_minhash_band_pairs(spark, sf_dir):
    """LSH banding: candidate pairs sharing at least one full band of the
    4-seed signature (2 bands × 2 rows) — the bucket-equi-join union that
    replaces the O(n²) comparison. The constructed near-dup copies (one
    appended word) collide here with high probability.

    Band count / width are parameters of :func:`minhash_band_pairs` (the
    oracle pins the toy 4×2 shape); the signature frame is cached because
    every band join consumes it and the shingle-explode pipeline behind it
    is the expensive part (at cluster scale you'd materialize signatures)."""
    return minhash_band_pairs(spark, sf_dir, n_seeds=N_SEEDS, rows_per_band=2)


# --------------------------------------------------------------------- q33
@_reg(
    "q33_ngram_jaccard",
    f"""
    WITH docs AS ({_augmented_docs_sql()}),
    sh AS (SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM docs),
    pairs AS (SELECT doc_id AS doc_a, doc_id + 100000 AS doc_b
              FROM documents WHERE doc_id % 10 = 0),
    inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
              FROM pairs p
              JOIN sh x ON x.doc_id = p.doc_a
              JOIN sh y ON y.doc_id = p.doc_b AND y.sh = x.sh
              GROUP BY p.doc_a, p.doc_b),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
    SELECT i.doc_a, i.doc_b,
           FLOOR(i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter) * 10000 + 0.5) / 10000.0
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    """,
)
def q33_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard verification of near-dup candidates: distinct-shingle
    intersection over union for each constructed (original, mutated) pair.
    The verify stage that follows MinHash candidate generation."""
    # fan_out: same single-task shingle-pipeline rationale as
    # minhash_signatures (guide §2.5; no-op at scale)
    docs = fan_out(
        _augmented_docs(spark, sf_dir), "doc_id",
        path=f"{sf_dir}/documents.parquet",
    )
    sh = docs.select(
        "doc_id", F.explode(_shingles_expr(F.col("text"))).alias("sh")
    ).distinct()
    pairs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + 100000).alias("doc_b"),
        )
    )
    x = sh.alias("x")
    y = sh.alias("y")
    inter = (
        pairs.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(
            y,
            (F.col("y.doc_id") == F.col("doc_b"))
            & (F.col("y.sh") == F.col("x.sh")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_inter") / (F.col("sa.n") + F.col("sb.n") - F.col("n_inter"))
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (F.floor(jac * 10000 + 0.5) / 10000.0).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------- q34
def _simhash_sql() -> str:
    # 16-bit SimHash from the first 4 hex chars of md5(token): integer-only
    # bit arithmetic, identical in both engines.
    val = (
        "((strpos('0123456789abcdef', substr(md5(tok),1,1))-1)*4096 + "
        "(strpos('0123456789abcdef', substr(md5(tok),2,1))-1)*256 + "
        "(strpos('0123456789abcdef', substr(md5(tok),3,1))-1)*16 + "
        "(strpos('0123456789abcdef', substr(md5(tok),4,1))-1))"
    )
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (v // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(16)
    )
    recompose = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents),
    vals AS (SELECT doc_id, {val} AS v FROM toks),
    bits AS (SELECT doc_id, {bit_sums} FROM vals GROUP BY doc_id)
    SELECT doc_id, {recompose} AS simhash16 FROM bits
    """


def simhash(spark, sf_dir, n_bits: int = 16) -> DataFrame:
    """SimHash at ANY width ≤ 60: per-token md5 → n_bits bit votes →
    majority recompose. Pure integer expressions (shiftright keeps the bit
    extraction exact at wide hashes — no float division); widening just adds
    vote columns (the oracle pins n_bits=16 so the SQL stays legible;
    production 64-bit splits into two 32-bit halves of the same plan).
    Output column is named ``simhash{n_bits}``."""
    assert 1 <= n_bits <= 60, "signed-long construction caps the width"
    # fan_out: the per-token md5 + 16 bit-vote aggregates run above a
    # single-row-group scan (guide §2.5 input skew; no-op at scale)
    toks = fan_out(
        t(spark, sf_dir, "documents"), "doc_id",
        path=f"{sf_dir}/documents.parquet",
    ).select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    )
    h = F.md5(F.col("tok"))

    # one base-16 conv of the leading hex chars — integer-identical to the
    # per-character instr()·16^k decomposition it replaces (4 substring +
    # 4 instr per token → 1 substring + 1 conv)
    n_hex = (n_bits + 3) // 4
    v = F.conv(F.substring(h, 1, n_hex), 16, 10).cast("long")
    vals = toks.select("doc_id", v.alias("v"))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("v"), j) % 2 == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(n_bits)
    ]
    bits = vals.groupBy("doc_id").agg(*bit_aggs)
    sim = None
    for j in range(n_bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return bits.select("doc_id", sim.cast("long").alias(f"simhash{n_bits}"))


@_reg("q34_simhash", _simhash_sql())
def q34_simhash(spark, sf_dir):
    """SimHash (16-bit) fingerprinting: per-token md5 → bit votes → majority.
    Width is a parameter of :func:`simhash` (toy 16 pinned by the oracle)."""
    return simhash(spark, sf_dir, n_bits=16)


# --------------------------------------------------------------------- q35
_STOPWORDS_EN = r"\b(the|a|of|to|in|and|is|on|for|with)\b"


def _q35_sql() -> str:
    # built lazily: _NGRAM_SETS is defined further down the module
    en, de, fr = (
        _ngram_hits_sql("en"), _ngram_hits_sql("de"), _ngram_hits_sql("fr")
    )
    return f"""
    SELECT doc_id,
           CASE WHEN len(regexp_extract_all(lower(text), '{_STOPWORDS_EN}')) * 1.0 /
                     len(regexp_split_to_array(trim(text), '\\s+')) > 0.02
                THEN 'en' ELSE 'unk' END AS lang_pred_stopword,
           len(regexp_extract_all(lower(text), '{_STOPWORDS_EN}')) AS stopword_hits,
           {en} AS en_hits,
           {de} AS de_hits,
           {fr} AS fr_hits,
           CASE
             WHEN {en} >= {de} AND {en} >= {fr} THEN 'en'
             WHEN {de} >= {fr} THEN 'de'
             ELSE 'fr'
           END AS lang_pred_ngram
    FROM documents
    """


def q35_langid(spark, sf_dir):
    """Language-ID heuristics, both variants in one row (merged from the
    former q43_langid_ngram so the registry fits the driver's 50-row
    correctness board — r3 cut the tail).

    Stopword variant (``lang_pred_stopword``): stopword-hit ratio. N-gram
    variant (``lang_pred_ngram``): character-bigram profile hit counts per
    language with deterministic argmax tie-breaking (en > de > fr). The
    oracle checks the computation — the synthetic corpus shares one
    vocabulary so label recovery is not the point."""
    sw_hits = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(_STOPWORDS_EN), 0)
    )
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    hits = {}
    for lang, grams in _NGRAM_SETS.items():
        pat = "(" + "|".join(grams) + ")"
        hits[lang] = F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(pat), 0)
        )
    pred = (
        F.when((hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"]), "en")
        .when(hits["de"] >= hits["fr"], "de")
        .otherwise("fr")
    )
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(sw_hits * 1.0 / n_tok > 0.02, "en")
        .otherwise("unk")
        .alias("lang_pred_stopword"),
        sw_hits.alias("stopword_hits"),
        hits["en"].alias("en_hits"),
        hits["de"].alias("de_hits"),
        hits["fr"].alias("fr_hits"),
        pred.alias("lang_pred_ngram"),
    )


# --------------------------------------------------------------------- q36
@_reg(
    "q36_quality_score",
    """
    SELECT doc_id, n_tokens, punct, mean_tok_len,
           FLOOR((LEAST(n_tokens, 100) * 1.0 / 100
                  - punct * 1.0 / GREATEST(n_tokens, 1) * 0.5
                  + LEAST(mean_tok_len, 10) / 20) * 10000 + 0.5) / 10000.0 AS quality
    FROM (SELECT doc_id,
                 len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
                 len(regexp_extract_all(text, '[.,!?;:]')) AS punct,
                 FLOOR(length(regexp_replace(text, '\\s+', '', 'g')) * 10000.0 /
                       len(regexp_split_to_array(trim(text), '\\s+')) + 0.5) / 10000.0
                   AS mean_tok_len
          FROM documents)
    """,
)
def q36_quality_score(spark, sf_dir):
    """Quality scoring: length / punctuation / token-shape ratios combined
    into one deterministic score (the usual pre-training quality gate)."""
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.,!?;:]"), 0))
    mean_tok_len = (
        F.floor(
            F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
            * 10000.0
            / n_tokens
            + 0.5
        )
        / 10000.0
    )
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        punct.alias("punct"),
        mean_tok_len.alias("mean_tok_len"),
    )
    quality = (
        F.least(F.col("n_tokens"), F.lit(100)) * 1.0 / 100
        - F.col("punct") * 1.0 / F.greatest(F.col("n_tokens"), F.lit(1)) * 0.5
        + F.least(F.col("mean_tok_len"), F.lit(10.0)) / 20
    )
    return d.select(
        "doc_id", "n_tokens", "punct", "mean_tok_len",
        (F.floor(quality * 10000 + 0.5) / 10000.0).alias("quality"),
    )


# --------------------------------------------------------------------- q37
@_reg(
    "q37_token_count",
    """
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_ish_tokens
    FROM documents
    """,
)
def q37_token_count(spark, sf_dir):
    """Token counting: whitespace tokens + a BPE-ish regex segmentation
    (letters / digits / single symbols) — the budget estimator for training
    corpora."""
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
            )
        ).alias("bpe_ish_tokens"),
    )


# --------------------------------------------------------------------- q38
@_reg(
    "q38_fingerprint",
    """
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def q38_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 over whitespace-normalized lowercase text
    (the rolling-hash role; md5 keeps the oracle byte-identical)."""
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        ).alias("fingerprint"),
    )


# --------------------------------------------------------------------- q39
def _cosine_cols():
    return _cos_expr(F.col("qv"), F.col("cv"))


@_reg(
    "q39_ann_brute_topk",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    c AS (SELECT vec_id AS cand_id, v AS cv FROM e WHERE vec_id >= 5),
    scored AS (
      SELECT query_id, cand_id,
             list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
               AS sim
      FROM q CROSS JOIN c)
    SELECT query_id, cand_id, rk FROM (
      SELECT query_id, cand_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, cand_id) AS rk
      FROM scored) WHERE rk <= 3
    """,
)
def q39_ann_brute_topk(spark, sf_dir):
    """Similarity search, exact baseline: brute-force cosine top-k. The
    query side is tiny → broadcast; candidates never shuffle. At 100 TB this
    is the rerank stage that follows LSH/IVF candidate generation (q40)."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("v")
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # no fan_out: ~10k pair-folds are cheaper than the exchange a fan-out
    # would add (measured 0.52 s as-is vs 0.67 s fanned at sf0.1)
    c = e.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cand_id"), F.col("v").alias("cv")
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id", "cand_id", _cosine_cols().alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        scored.select("query_id", "cand_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 3)
    )


# --------------------------------------------------------------------- q40
def _lsh_plane_sql(j: int) -> str:
    lit = "[" + ", ".join(f"{x!r}" for x in LSH_PLANES[j]) + "]"
    return f"CASE WHEN list_dot_product(v, {lit}::DOUBLE[]) > 0 THEN {1 << j} ELSE 0 END"


def lsh_bucket_expr(v_col, n_planes: int = 8):
    """Hyperplane-sign bucket id of an embedding column, at any plane count
    (production knob; the oracle pins 8)."""
    planes = lsh_planes(n_planes)
    bucket = None
    for j in range(n_planes):
        plane = F.array(*[F.lit(x) for x in planes[j]])
        dot = F.aggregate(
            F.zip_with(v_col, plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        term = F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return bucket


def lsh_buckets(spark, sf_dir, n_planes: int = 8) -> DataFrame:
    # no fan_out here: 8 plane folds over a 2k-row scan are cheaper than
    # the exchange a fan-out would add (measured — q40 0.31 s as-is)
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("v")
    )
    return e.select(
        "vec_id", lsh_bucket_expr(F.col("v"), n_planes).alias("bucket")
    )


@_reg(
    "q40_ann_lsh_buckets",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT vec_id, {" + ".join(_lsh_plane_sql(j) for j in range(8))} AS bucket
    FROM e
    """,
)
def q40_ann_lsh_buckets(spark, sf_dir):
    """Similarity search, scale path: random-hyperplane LSH bucket ids.
    Candidate generation = equi-join on bucket (plus neighbor buckets for
    multi-probe) instead of a cross join; hyperplanes are fixed literals so
    both engines compute identical signs."""
    return lsh_buckets(spark, sf_dir, n_planes=8)


# --------------------------------------------------------------------- q41
@_reg(
    "q41_embedding_near_dup",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    aug AS (SELECT vec_id, v FROM e
            UNION ALL
            SELECT vec_id + 100000, v FROM e WHERE vec_id % 25 = 0),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
               AS sim
      FROM aug a JOIN aug b
        ON a.vec_id % 25 = b.vec_id % 25 AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b FROM pairs WHERE sim > 0.9999
    """,
)
def q41_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup: exact copies injected at vec_id+100000,
    candidate pairs generated by a bucket equi-join (vec_id mod 25 — the
    stand-in for an LSH bucket), verified by cosine > threshold.

    The vector norm is hoisted BEFORE the join (one interpreted-lambda
    aggregate per vector); computing it per pair re-ran two 64-element
    folds for every candidate a vector appears in. Same float arithmetic,
    same order, identical values — the oracle still computes per-pair."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("v")
    )
    aug = e.unionByName(
        e.filter(F.col("vec_id") % 25 == 0).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "v"
        )
    ).withColumn("nrm", F.sqrt(_sqnorm_expr(F.col("v"))))
    # fan_out the probe side: the broadcast join evaluates every same-bucket
    # pair's 64-term dot on the probe partitions, and the union of two
    # single-row-group scans is 2 tasks (guide §2.5; no-op at scale)
    a = fan_out(aug, "vec_id", path=f"{sf_dir}/embeddings.parquet").alias("a")
    b = aug.alias("b")
    dot = _dot_expr(F.col("a.v"), F.col("b.v"))
    return (
        a.join(
            b,
            (F.col("a.vec_id") % 25 == F.col("b.vec_id") % 25)
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (dot / (F.col("a.nrm") * F.col("b.nrm"))).alias("sim"),
        )
        .filter(F.col("sim") > 0.9999)
        .select("vec_a", "vec_b")
    )


# --------------------------------------------------------------------- q43
_NGRAM_SETS = {
    "en": ["th", "he", "in", "er", "an"],
    "de": ["ch", "ei", "ie", "sch", "un"],
    "fr": ["le", "ou", "es", "de", "on"],
}


def _ngram_hits_sql(lang: str) -> str:
    pat = "|".join(_NGRAM_SETS[lang])
    return f"len(regexp_extract_all(lower(text), '({pat})'))"


# q35_langid registered here — _ngram_hits_sql/_NGRAM_SETS (used by its
# oracle SQL and plan) are only defined above this point.
REGISTRY["q35_langid"] = (q35_langid, _q35_sql())


# --------------------------------------------------------------------- q44
_IVF_SQL = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
    cand AS (SELECT vec_id AS cand_id, v FROM e WHERE vec_id >= 16),
    qry  AS (SELECT vec_id AS query_id, v AS qv FROM e
             WHERE vec_id >= 8 AND vec_id < 13),
    assign AS (
      SELECT cand_id, cid AS cell FROM (
        SELECT c.cand_id, ct.cid,
               ROW_NUMBER() OVER (PARTITION BY c.cand_id ORDER BY
                 list_dot_product(c.v, ct.cv) /
                 (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(ct.cv, ct.cv)))
                 DESC, ct.cid) AS rk
        FROM cand c CROSS JOIN cent ct) WHERE rk = 1),
    probes AS (
      SELECT query_id, cid AS cell FROM (
        SELECT q.query_id, ct.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 list_dot_product(q.qv, ct.cv) /
                 (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(ct.cv, ct.cv)))
                 DESC, ct.cid) AS rk
        FROM qry q CROSS JOIN cent ct) WHERE rk <= 2),
    scored AS (
      SELECT p.query_id, a.cand_id,
             list_dot_product(q.qv, c.v) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v)))
               AS sim
      FROM probes p
      JOIN assign a ON a.cell = p.cell
      JOIN qry q ON q.query_id = p.query_id
      JOIN cand c ON c.cand_id = a.cand_id)
    SELECT query_id, cand_id, rk FROM (
      SELECT query_id, cand_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rk
      FROM scored) WHERE rk <= 3
"""


# --------------------------------------------------------------------- q53
def _lsh_bucket_sql(col: str, n_planes: int = 8) -> str:
    terms = []
    for j in range(n_planes):
        lit = "[" + ", ".join(f"{x!r}" for x in LSH_PLANES[j]) + "]"
        terms.append(
            f"CASE WHEN list_dot_product({col}, {lit}::DOUBLE[]) > 0 "
            f"THEN {1 << j} ELSE 0 END"
        )
    return " + ".join(terms)


_RECALL_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    qry AS (SELECT vec_id AS query_id, v AS qv FROM e
            WHERE vec_id >= 8 AND vec_id < 13),
    cand AS (SELECT vec_id AS cand_id, v FROM e WHERE vec_id >= 16),
    gt AS (
      SELECT query_id, cand_id FROM (
        SELECT q.query_id, c.cand_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 list_dot_product(q.qv, c.v) /
                 (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v)))
                 DESC, c.cand_id) AS rk
        FROM qry q CROSS JOIN cand c) WHERE rk <= 3),
    ivf AS (SELECT query_id, cand_id FROM ({_IVF_SQL})),
    qb AS (SELECT query_id, qv, {_lsh_bucket_sql("qv")} AS bucket FROM qry),
    cb AS (SELECT cand_id, v, {_lsh_bucket_sql("v")} AS bucket FROM cand),
    lsh AS (
      SELECT query_id, cand_id FROM (
        SELECT qb.query_id, cb.cand_id,
               ROW_NUMBER() OVER (PARTITION BY qb.query_id ORDER BY
                 list_dot_product(qb.qv, cb.v) /
                 (sqrt(list_dot_product(qb.qv, qb.qv)) * sqrt(list_dot_product(cb.v, cb.v)))
                 DESC, cb.cand_id) AS rk
        FROM qb JOIN cb ON cb.bucket = qb.bucket) WHERE rk <= 3),
    qprobes AS (
      SELECT query_id, qv, unnest([qb.bucket,
             {", ".join(f"xor(qb.bucket, {1 << j})" for j in range(8))}])
             AS bucket
      FROM qb),
    lsh_mp AS (
      SELECT query_id, cand_id FROM (
        SELECT p.query_id, cb.cand_id,
               ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
                 list_dot_product(p.qv, cb.v) /
                 (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(cb.v, cb.v)))
                 DESC, cb.cand_id) AS rk
        FROM qprobes p JOIN cb ON cb.bucket = p.bucket) WHERE rk <= 3),
    n AS (SELECT COUNT(*) AS n_gt FROM gt)
    SELECT method, FLOOR(hits * 1.0 / n_gt * 10000 + 0.5) / 10000.0 AS recall
    FROM (
      SELECT 'ivf' AS method,
             (SELECT COUNT(*) FROM ivf i JOIN gt g
               ON g.query_id = i.query_id AND g.cand_id = i.cand_id) AS hits
      UNION ALL
      SELECT 'lsh_exact' AS method,
             (SELECT COUNT(*) FROM lsh l JOIN gt g
               ON g.query_id = l.query_id AND g.cand_id = l.cand_id) AS hits
      UNION ALL
      SELECT 'lsh_probe1' AS method,
             (SELECT COUNT(*) FROM lsh_mp l JOIN gt g
               ON g.query_id = l.query_id AND g.cand_id = l.cand_id) AS hits
    ) CROSS JOIN n
"""


@_reg("q53_ann_recall", _RECALL_SQL)
def q53_ann_recall(spark, sf_dir):
    """Recall@3 of the approximate candidate generators against brute-force
    cosine ground truth on the SAME query/candidate split: IVF (q44,
    nprobe=2), exact-bucket LSH (q40 buckets + in-bucket rerank), and
    multi-probe LSH (the query probes its bucket plus all Hamming-1
    neighbours — 9 buckets — the standard recall fix that keeps the
    equi-join shape). This is the metric that matters at 100 TB: a bucket
    scheme that loses true neighbours is silently wrong no matter how fast
    the equi-join is; exact-bucket recall documents exactly that risk."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("v")
    )
    qry = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 13)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # fan_out: all three candidate-side cosine passes (GT / LSH / multi-
    # probe) probe broadcast joins on the candidate partitions
    # (guide §2.5; no-op at scale)
    cand = fan_out(
        e.filter(F.col("vec_id") >= 16), "vec_id",
        path=f"{sf_dir}/embeddings.parquet",
    ).select(
        F.col("vec_id").alias("cand_id"), "v"
    )

    cos = _cos_expr

    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    gt = (
        F.broadcast(qry)
        .crossJoin(cand)
        .withColumn("sim", cos(F.col("qv"), F.col("v")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("query_id", "cand_id")
    )
    ivf = q44_ann_ivf(spark, sf_dir).select("query_id", "cand_id")
    qb = qry.withColumn("bucket", lsh_bucket_expr(F.col("qv")))
    cb = cand.withColumn("bucket", lsh_bucket_expr(F.col("v")))
    lsh = (
        F.broadcast(qb)
        .join(cb, "bucket")
        .withColumn("sim", cos(F.col("qv"), F.col("v")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("query_id", "cand_id")
    )
    # multi-probe: each query also probes its 8 Hamming-1 neighbour buckets
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(1 << j) for j in range(8)]
    )
    qprobes = qb.select(
        "query_id", "qv", F.explode(probes).alias("bucket")
    )
    lsh_mp = (
        F.broadcast(qprobes)
        .join(cb, "bucket")
        .withColumn("sim", cos(F.col("qv"), F.col("v")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("query_id", "cand_id")
    )
    n_gt = gt.groupBy().agg(F.count("*").alias("n_gt"))

    def rec(method: str, retrieved: DataFrame) -> DataFrame:
        hits = retrieved.join(gt, ["query_id", "cand_id"]).groupBy().agg(
            F.count("*").alias("hits")
        )
        return hits.crossJoin(n_gt).select(
            F.lit(method).alias("method"),
            (
                F.floor(F.col("hits") * 1.0 / F.col("n_gt") * 10000 + 0.5)
                / 10000.0
            ).alias("recall"),
        )

    return (
        rec("ivf", ivf)
        .unionByName(rec("lsh_exact", lsh))
        .unionByName(rec("lsh_probe1", lsh_mp))
    )


@_reg("q44_ann_ivf", _IVF_SQL)
def q44_ann_ivf(spark, sf_dir):
    """Similarity search, IVF variant: coarse quantization to deterministic
    centroid cells (first 8 vectors), candidates assigned to their nearest
    cell, queries probe their top-2 cells — the inverted-file pattern that
    turns ANN into (small broadcast) + (bucket equi-join), no cross join
    over the full corpus. Rerank within probed cells is exact cosine."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double("embedding").alias("v")
    )
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    # fan_out: the assign pass scores cand × 8 broadcast centroids on the
    # candidate partitions (guide §2.5; no-op at scale)
    cand = fan_out(
        e.filter(F.col("vec_id") >= 16), "vec_id",
        path=f"{sf_dir}/embeddings.parquet",
    ).select(
        F.col("vec_id").alias("cand_id"), "v"
    )
    qry = e.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 13)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )

    cos = _cos_expr

    w_assign = Window.partitionBy("cand_id").orderBy(
        F.desc("csim"), F.asc("cid")
    )
    assign = (
        cand.crossJoin(F.broadcast(cent))
        .withColumn("csim", cos(F.col("v"), F.col("cv")))
        .withColumn("rk", F.row_number().over(w_assign))
        .filter(F.col("rk") == 1)
        .select("cand_id", F.col("cid").alias("cell"), "v")
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("cid"))
    probes = (
        qry.crossJoin(F.broadcast(cent))
        .withColumn("csim", cos(F.col("qv"), F.col("cv")))
        .withColumn("rk", F.row_number().over(w_probe))
        .filter(F.col("rk") <= 2)
        .select("query_id", F.col("cid").alias("cell"), "qv")
    )
    scored = probes.join(assign, "cell").withColumn(
        "sim", cos(F.col("qv"), F.col("v"))
    )
    w_top = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") <= 3)
        .select("query_id", "cand_id", "rk")
    )
