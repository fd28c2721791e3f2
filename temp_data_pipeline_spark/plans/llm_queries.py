"""LLM-data-pipeline conformance queries over documents/embeddings.

Oracle-paired where DuckDB can express the same math (token stats,
language ID, fingerprints, exact dedup, md5-based MinHash/SimHash,
brute-force cosine ANN); rows-only for the genuinely Spark-shaped
scale paths (xxhash LSH dedup, hyperplane-LSH / IVF ANN, multimodal
mapInPandas) — the driver records the weaker check for those, and
tests/test_llm_ops.py pins their semantics with golden values.

Hash parity notes:
- int60(x) := CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT) in
  DuckDB == conv(substring(md5(x),1,15),16,10)::long in Spark.
- Single-space split keeps empty tokens in BOTH engines.
- Cosine is computed with an explicit element loop (cast-to-double
  before multiply, sequential accumulation) on both sides, and only
  ids/ranks are emitted — float values never reach the hash compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from temp_data_pipeline_spark.llm import multimodal, similarity, text
from temp_data_pipeline_spark.llm.dedup import (
    cosine_sim,
    embedding_neardup_pairs,
    exact_dup_stats,
    minhash_dedup,
    minhash_signature,
    shingles_of,
    simhash,
    tokenized,
    simhash_neardup_pairs,
)
from temp_data_pipeline_spark.plans.declared import (
    QuerySpec,
    presorted,
    registrar,
    scratch_table,
)
from temp_data_pipeline_spark.sources.registry import load_table

LLM_QUERIES: dict[str, QuerySpec] = {}
_register = registrar(LLM_QUERIES)


_INT60_SQL = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"

# The hyperplane-LSH operators draw their planes from random.Random(42)
# in a fixed order (llm/similarity.py::ann_lsh_topk,
# llm/dedup.py::embedding_neardup_pairs — seed=42, nbits=16, dim=64).
# Re-drawing the same sequence here and embedding the floats as SQL
# literals lets DuckDB replay the signature math bit-for-bit: repr()
# round-trips doubles exactly, and both engines then multiply/sum the
# identical values in the identical order.
import random as _random

_plane_rng = _random.Random(42)
_PLANES = [[_plane_rng.gauss(0, 1) for _ in range(64)] for _ in range(16)]
_PLANES_SQL = (
    "[" + ", ".join("[" + ", ".join(repr(x) for x in p) + "]" for p in _PLANES) + "]"
)

# band value b (0..3) of the 16-bit signature over column {v}: 4 bits,
# bit i set when dot({v}, plane[4b+i]) >= 0 — mirrors _plane_signature
_BAND_SQL = """list_transform(range(4), b ->
        CAST(list_sum(list_transform(range(4), i ->
            CASE WHEN list_sum(list_transform(range(1, 65), j ->
                CAST({v}[j] AS DOUBLE) * p.pl[4*b + i + 1][j])) >= 0
            THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT))"""


def _docs_sorted(spark, sf_dir):
    """documents scan range-partitioned + sorted on doc_id up front:
    map-only per-doc queries stay globally ordered without a trailing
    orderBy (which would re-execute the hash pipeline for the range
    sampler) and the hash work is spread over all cores."""
    return presorted(load_table(spark, sf_dir, "documents"), "doc_id")


# ---------------------------------------------------------------------------
# Text analysis (oracle-paired)
# ---------------------------------------------------------------------------


@_register(
    "llm_token_count",
    ["text-analysis"],
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           n_chars
    FROM documents ORDER BY doc_id
    """,
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_sorted(spark, sf_dir)
    return d.select(
        "doc_id", text.token_count("text").alias("n_tokens"), "n_chars"
    )


@_register(
    "llm_token_bpe",
    ["text-analysis"],
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
                AS INT) AS n_bpe,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws
    FROM documents ORDER BY doc_id
    """,
    note=(
        "BPE-style pre-tokenization count (word/number/punct regex, the "
        "GPT-style pre-tokenizer family) next to the whitespace count; "
        "both engines run the same RE2 pattern."
    ),
)
def llm_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_sorted(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(text.tokens_regex("text")).alias("n_bpe"),
        text.token_count("text").alias("n_ws"),
    )


@_register(
    "llm_text_quality",
    ["text-analysis"],
    f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           FLOOR((CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                  / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0 AS avg_tok_len,
           FLOOR((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0 AS distinct_ratio,
           CAST(length(text) >= 100 AS INT) AS len_ok
    FROM documents ORDER BY doc_id
    """,
    note="Quality-scoring components; floor-formula rounding on both sides.",
)
def llm_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_sorted(spark, sf_dir)
    scale = 10000.0
    r4 = lambda c: F.floor(c * scale + F.lit(0.5)) / scale
    return d.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        r4(text.avg_token_len("text")).alias("avg_tok_len"),
        r4(text.distinct_token_ratio("text")).alias("distinct_ratio"),
        (F.length("text") >= 100).cast("int").alias("len_ok"),
    )


_GOPHER_ORACLE = """
    WITH g AS (
        SELECT doc_id,
               string_split(text, ' ') AS w,
               string_split(text, chr(10)) AS ln,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS nw,
               ((length(text) - length(regexp_replace(text, '\\#', '', 'g'))) / 1
                + (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3
                + (length(text) - length(regexp_replace(text, '…', '', 'g'))) / 1
               ) AS nsym,
               (length(text) - (len(string_split(text, ' ')) - 1))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_len
        FROM documents
    )
    SELECT doc_id,
           CAST(nw >= 50 AND nw <= 100000 AS INT) AS word_count_ok,
           CAST(mean_len >= 3.0 AND mean_len <= 10.0 AS INT) AS mean_word_len_ok,
           CAST(nsym / greatest(nw, 1) <= 0.1 AS INT) AS symbol_ratio_ok,
           CAST(len(list_filter(ln, l -> starts_with(l, '- ')
                    OR starts_with(l, '* ') OR starts_with(l, '• ')))
                / CAST(greatest(len(ln), 1) AS DOUBLE) <= 0.9 AS INT) AS bullet_ok,
           CAST(len(list_filter(ln, l -> ends_with(l, '...') OR ends_with(l, '…')))
                / CAST(greatest(len(ln), 1) AS DOUBLE) <= 0.3 AS INT) AS ellipsis_ok,
           CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
                / greatest(nw, 1) >= 0.8 AS INT) AS alpha_ok,
           CAST(len(list_filter(list_distinct(w), x -> x IN
                    ('the','be','to','of','and','that','have','with'))) >= 2
                AS INT) AS stopword_ok,
           CAST(nw >= 50 AND nw <= 100000
                AND mean_len >= 3.0 AND mean_len <= 10.0
                AND nsym / greatest(nw, 1) <= 0.1
                AND len(list_filter(ln, l -> starts_with(l, '- ')
                        OR starts_with(l, '* ') OR starts_with(l, '• ')))
                    / CAST(greatest(len(ln), 1) AS DOUBLE) <= 0.9
                AND len(list_filter(ln, l -> ends_with(l, '...') OR ends_with(l, '…')))
                    / CAST(greatest(len(ln), 1) AS DOUBLE) <= 0.3
                AND len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
                    / greatest(nw, 1) >= 0.8
                AND len(list_filter(list_distinct(w), x -> x IN
                        ('the','be','to','of','and','that','have','with'))) >= 2
                AS INT) AS gopher_pass
    FROM g ORDER BY doc_id
"""


@_register(
    "llm_gopher",
    ["text-analysis"],
    _GOPHER_ORACLE,
    note=(
        "The published Gopher/MassiveText quality-rule suite (word "
        "count, mean word length, symbol ratio, bullet/ellipsis line "
        "fractions, alphabetic-word fraction, stopword presence) as "
        "map-only JVM expressions; DuckDB replays every rule."
    ),
)
def llm_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_sorted(spark, sf_dir)
    flags = text.gopher_flags("text")
    return d.select(
        "doc_id", *[flags[k].cast("int").alias(k) for k in flags]
    )


@_register(
    "llm_lang_id",
    ["text-analysis"],
    """
    WITH c AS (
        SELECT doc_id,
               len(list_filter(string_split(text,' '),
                   t -> t IN ('the','and','of','to','a','is','in'))) AS c_en,
               len(list_filter(string_split(text,' '),
                   t -> t IN ('le','la','les','et','un','une','est'))) AS c_fr,
               len(list_filter(string_split(text,' '),
                   t -> t IN ('el','los','las','y','un','una','es'))) AS c_es,
               len(list_filter(string_split(text,' '),
                   t -> t IN ('der','die','das','und','ein','ist','nicht'))) AS c_de
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN greatest(c_en, c_fr, c_es, c_de) = 0 THEN 'und'
                WHEN c_en = greatest(c_en, c_fr, c_es, c_de) THEN 'en'
                WHEN c_fr = greatest(c_en, c_fr, c_es, c_de) THEN 'fr'
                WHEN c_es = greatest(c_en, c_fr, c_es, c_de) THEN 'es'
                WHEN c_de = greatest(c_en, c_fr, c_es, c_de) THEN 'de'
                ELSE 'und' END AS pred_lang
    FROM c ORDER BY doc_id
    """,
    note="Stopword-profile argmax with fixed tie order en>fr>es>de.",
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_sorted(spark, sf_dir)
    return d.select("doc_id", text.lang_id("text").alias("pred_lang"))


@_register(
    "llm_fingerprint",
    ["text-analysis", "dedup"],
    f"""
    SELECT doc_id, md5(text) AS fp,
           {_INT60_SQL.format(x='text')} AS fp60
    FROM documents ORDER BY doc_id
    """,
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_sorted(spark, sf_dir)
    return d.select(
        "doc_id",
        text.fingerprint_md5("text").alias("fp"),
        text.md5_int60(F.col("text")).alias("fp60"),
    )


# ---------------------------------------------------------------------------
# Dedup (oracle-paired)
# ---------------------------------------------------------------------------


@_register(
    "llm_dedup_exact",
    ["dedup"],
    """
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text ORDER BY keep_id
    """,
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return exact_dup_stats(d).orderBy("keep_id")


@_register(
    "llm_minhash",
    ["dedup"],
    f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len(string_split(text,' ')) - 2, 1) + 1),
                   i -> concat_ws(' ', string_split(text,' ')[i],
                                       string_split(text,' ')[i+1],
                                       string_split(text,' ')[i+2])
               )) AS s
        FROM documents
    )
    SELECT doc_id,
           list_min(list_transform(s, x -> {_INT60_SQL.format(x="concat('s0:', x)")})) AS mh0,
           list_min(list_transform(s, x -> {_INT60_SQL.format(x="concat('s1:', x)")})) AS mh1,
           list_min(list_transform(s, x -> {_INT60_SQL.format(x="concat('s2:', x)")})) AS mh2,
           list_min(list_transform(s, x -> {_INT60_SQL.format(x="concat('s3:', x)")})) AS mh3
    FROM sh ORDER BY doc_id
    """,
    note=(
        "MinHash signature (k=4, 3-gram shingles, md5-int60 seeded "
        "hashes) — proves the signature pipeline bit-for-bit. The "
        "xxhash64 production variant + banding + verify is covered "
        "rows-only by llm_minhash_dedup."
    ),
)
def llm_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_sorted(spark, sf_dir)
    # explode-of-1 barriers at each stage (tokens → shingles → sig):
    # a captured non-attribute expression inside a HOF lambda is
    # re-evaluated per element, and CollapseProject would inline the
    # signature into all 4 element_at projections. Generates are
    # row-local, so the presorted global order survives the chain.
    tokd = tokenized(d, "text", ["doc_id"])
    shd = tokd.select(
        "doc_id", F.explode(F.array(shingles_of(F.col("_tok"), 3))).alias("_sh")
    )
    sig = minhash_signature(F.col("_sh"), k=4, hash_fn="md5")
    sigd = shd.select("doc_id", F.explode(F.array(sig)).alias("_sig"))
    return sigd.select(
        "doc_id",
        *[F.element_at(F.col("_sig"), i + 1).alias(f"mh{i}") for i in range(4)],
    )


@_register(
    "llm_simhash",
    ["dedup"],
    f"""
    WITH th AS (
        SELECT doc_id,
               list_transform(list_distinct(string_split(text,' ')),
                              t -> {_INT60_SQL.format(x='t')}) AS hs
        FROM documents
    )
    SELECT doc_id,
           CAST(list_sum(list_transform(range(16), b ->
               CASE WHEN list_sum(list_transform(hs, h ->
                        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash16
    FROM th ORDER BY doc_id
    """,
    note="16-bit md5-based SimHash; 64-bit xxhash variant is rows-only.",
)
def llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_sorted(spark, sf_dir)
    return d.select(
        "doc_id", simhash("text", nbits=16, hash_fn="md5").alias("simhash16")
    )


# ---------------------------------------------------------------------------
# Similarity search (oracle-paired, ids/ranks only)
# ---------------------------------------------------------------------------

_COS_SQL = """list_sum(list_transform(range(1, 65),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
               * sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))))"""


@_register(
    "llm_ann_topk",
    ["similarity"],
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    s AS (
        SELECT e.vec_id, {_COS_SQL} AS sim
        FROM embeddings e, q WHERE e.vec_id <> 0
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS INT) AS rank, vec_id
    FROM s ORDER BY sim DESC, vec_id LIMIT 10
    """,
    note=(
        "Brute-force exact cosine top-10 for the vec_id=0 query; only "
        "(rank, vec_id) emitted so float formatting never hits the hash."
    ),
)
def llm_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    topk = similarity.cosine_topk(
        e.filter(F.col("vec_id") != 0), qvec, k=10
    )
    w = Window.orderBy(F.desc("cosine"), F.col("vec_id"))
    return topk.select(F.row_number().over(w).cast("int").alias("rank"), "vec_id")


@_register(
    "llm_neardup_window",
    ["similarity", "dedup"],
    f"""
    WITH pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_COS_SQL.replace('e.embedding', 'a.embedding').replace('q.qv', 'b.embedding')} AS sim
        FROM embeddings a JOIN embeddings b
          ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 5
    )
    SELECT id_a AS vec_id,
           CAST(arg_max(id_b, sim) AS BIGINT) AS best_neighbor
    FROM pairs GROUP BY id_a ORDER BY vec_id
    """,
    note=(
        "Embedding near-dup shape with a bounded candidate window "
        "(next 5 ids): argmax-cosine neighbor per vector. The "
        "unbounded LSH variant is rows-only (llm_embed_neardup)."
    ),
)
def llm_neardup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    a = e.alias("a")
    b = e.alias("b")
    pairs = a.join(
        b,
        (F.col("b.vec_id") > F.col("a.vec_id"))
        & (F.col("b.vec_id") <= F.col("a.vec_id") + 5),
    ).select(
        F.col("a.vec_id").alias("id_a"),
        F.col("b.vec_id").alias("id_b"),
        cosine_sim(F.col("a.embedding"), F.col("b.embedding")).alias("sim"),
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("sim"), F.col("id_b"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("id_a").alias("vec_id"), F.col("id_b").alias("best_neighbor"))
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Rows-only scale paths (no SQL-expressible oracle)
# ---------------------------------------------------------------------------


# the oracle replays the ENTIRE minhash_dedup pipeline in SQL:
# 3-gram shingles → k=16 seeded md5-int60 minima → 4 bands of 4 →
# band-equality candidates (the Spark side hashes the band slice with
# xxhash64 purely as a shuffle-key compression; equality on the hash
# == equality on the slice) → exact-Jaccard ≥ 0.8 verify → drop id_b.
_MINHASH16_SQL = ",\n           ".join(
    "list_min(list_transform(s, x -> "
    + _INT60_SQL.format(x=f"concat('s{i}:', x)")
    + "))"
    for i in range(16)
)

_MINHASH_DEDUP_ORACLE = f"""
    WITH sh AS (
        SELECT doc_id, n_chars,
               list_distinct(list_transform(
                   range(1, greatest(len(string_split(text,' ')) - 2, 1) + 1),
                   i -> concat_ws(' ', string_split(text,' ')[i],
                                       string_split(text,' ')[i+1],
                                       string_split(text,' ')[i+2])
               )) AS s
        FROM documents
    ), sig AS (
        SELECT doc_id,
           [{_MINHASH16_SQL}] AS mh
        FROM sh
    ), banded AS (
        SELECT doc_id, t.b AS band,
               concat_ws(',', CAST(mh[4*t.b+1] AS VARCHAR), CAST(mh[4*t.b+2] AS VARCHAR),
                              CAST(mh[4*t.b+3] AS VARCHAR), CAST(mh[4*t.b+4] AS VARCHAR)) AS bv
        FROM sig, unnest(range(4)) t(b)
        -- mirror cap_bucket (lowest 1000 ids per band bucket)
        QUALIFY row_number() OVER (
            PARTITION BY t.b,
                concat_ws(',', CAST(mh[4*t.b+1] AS VARCHAR), CAST(mh[4*t.b+2] AS VARCHAR),
                               CAST(mh[4*t.b+3] AS VARCHAR), CAST(mh[4*t.b+4] AS VARCHAR))
            ORDER BY doc_id) <= 1000
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    ), ver AS (
        SELECT c.id_b
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b
        WHERE CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
              / (len(sa.s) + len(sb.s)
                 - len(list_filter(sa.s, x -> list_contains(sb.s, x)))) >= 0.8
    )
    SELECT d.doc_id, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT id_b FROM ver)
    ORDER BY d.doc_id
"""


@_register(
    "llm_minhash_dedup",
    ["dedup"],
    _MINHASH_DEDUP_ORACLE,
    note=(
        "Full MinHash→LSH band join→exact-Jaccard-verify dedup, "
        "md5-int60 hash family so DuckDB replays every stage (the "
        "xxhash64 production path is pinned by goldens in "
        "tests/test_llm_ops.py and the 10× scale smoke)."
    ),
)
def llm_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        minhash_dedup(d, threshold=0.8, hash_fn="md5")
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


_SIMHASH_PAIR_CTES = f"""th AS (
        SELECT doc_id,
               list_transform(list_distinct(string_split(text,' ')),
                              t -> {_INT60_SQL.format(x='t')}) AS hs
        FROM documents
    ), sig AS (
        SELECT doc_id,
               CAST(list_sum(list_transform(range(60), b ->
                   CASE WHEN list_sum(list_transform(hs, h ->
                            CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sg
        FROM th
    ), chunks AS (
        SELECT doc_id, sg, t.b AS chunk_id, (sg >> (16*t.b)) & 65535 AS chunk
        FROM sig, unnest(range(4)) t(b)
        -- mirror cap_bucket: keep the 1000 lowest ids per band bucket
        -- (first diverges from an uncapped oracle at sf0.1, where one
        -- bucket holds 1039 docs)
        QUALIFY row_number() OVER (PARTITION BY t.b, (sg >> (16*t.b)) & 65535
                                   ORDER BY doc_id) <= 1000
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                        a.sg AS sa, b.sg AS sb
        FROM chunks a JOIN chunks b
          ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk
         AND a.doc_id < b.doc_id
    )"""

_SIMHASH_NEARDUP_ORACLE = f"""
    WITH {_SIMHASH_PAIR_CTES}
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    ORDER BY id_a, id_b
"""


@_register(
    "llm_simhash_neardup",
    ["dedup"],
    _SIMHASH_NEARDUP_ORACLE,
    note=(
        "SimHash banding + Hamming verify (≤3), 60-bit md5 variant so "
        "DuckDB replays signature→chunk→candidate→verify (the 64-bit "
        "xxhash64 production path is golden-tested)."
    ),
)
def llm_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        simhash_neardup_pairs(d, hash_fn="md5", nbits=60)
        .withColumn("hamming", F.col("hamming").cast("long"))
        .orderBy("id_a", "id_b")
    )


_DUP_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {_SIMHASH_PAIR_CTES},
    ver AS (
        SELECT id_a, id_b FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM ver
        UNION
        SELECT id_b, id_a FROM ver
    ),
    reach(node, r) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        UNION
        SELECT e.a, r.r FROM edges e JOIN reach r ON r.node = e.b
    ),
    comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id,
           COALESCE(comp.cluster_id, d.doc_id) AS cluster_id,
           (d.doc_id = COALESCE(comp.cluster_id, d.doc_id)) AS is_representative
    FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
    ORDER BY d.doc_id
"""


@_register(
    "llm_dup_clusters",
    ["dedup"],
    _DUP_CLUSTERS_ORACLE,
    note=(
        "Connected components over SimHash near-dup pairs "
        "(llm/cluster.py min-label propagation; O(diameter) rounds, "
        "one join+agg shuffle per round) — every document labeled "
        "with its duplicate-cluster id and representative flag. The "
        "oracle replays the components with a recursive CTE over the "
        "same pair set."
    ),
)
def llm_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.cluster import cluster_labels

    d = load_table(spark, sf_dir, "documents")
    # iterative label propagation runs many small per-round stages;
    # at conformance scale per-task overhead dominates at the session
    # partition count, so pin low for the demo (the operator itself
    # stays conf-driven — a real cluster keeps its session setting)
    # and restore after: rounds materialize via localCheckpoint inside
    # cluster_labels, so the result is insensitive to later conf.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        pairs = simhash_neardup_pairs(d, hash_fn="md5", nbits=60)
        out = cluster_labels(d, pairs).localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out.orderBy("doc_id")


_EMBED_NEARDUP_ORACLE = f"""
    WITH p AS (SELECT {_PLANES_SQL} AS pl),
    nrmv AS (
        SELECT vec_id, embedding,
               list_transform(range(1, 65), j ->
                   CAST(embedding[j] AS DOUBLE) /
                   (CASE WHEN nrm > 0 THEN nrm ELSE 1.0 END)) AS vn
        FROM (
            SELECT vec_id, embedding,
                   sqrt(list_sum(list_transform(range(1, 65), j ->
                       CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)
                   ))) AS nrm
            FROM embeddings
        )
    ),
    sigs AS (
        SELECT n.vec_id, {_BAND_SQL.format(v='n.embedding')} AS eb
        FROM nrmv n, p
    ),
    bandrows AS (
        SELECT vec_id, t.b AS band_id, eb[t.b + 1] AS band_val
        FROM sigs, unnest(range(4)) t(b)
        -- mirror cap_bucket (lowest 1000 ids per band bucket; max
        -- observed bucket at sf0.1 is 203, so this is contract
        -- parity for larger corpora, not a behavior change today)
        QUALIFY row_number() OVER (PARTITION BY t.b, eb[t.b + 1]
                                   ORDER BY vec_id) <= 1000
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bandrows a JOIN bandrows b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b
    FROM cand c
    JOIN nrmv na ON na.vec_id = c.id_a
    JOIN nrmv nb ON nb.vec_id = c.id_b
    WHERE list_sum(list_transform(range(1, 65), j -> na.vn[j] * nb.vn[j])) >= 0.4
    ORDER BY c.id_a, c.id_b
"""


@_register(
    "llm_embed_neardup",
    ["similarity", "dedup"],
    _EMBED_NEARDUP_ORACLE,
    note=(
        "Banded hyperplane-LSH near-dup pairs over embeddings, cosine "
        "≥ 0.4 (the synthetic vectors top out near 0.51 pairwise, so a "
        "0.9 gate would trivially emit zero rows); DuckDB replays "
        "signature → band candidates → normalized-dot verify from "
        "embedded plane literals."
    ),
)
def llm_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(e, threshold=0.4).select("id_a", "id_b").orderBy(
        "id_a", "id_b"
    )


# LSH candidate generation shared by the topk oracle AND the recall
# oracle — ONE definition, so a future band-semantics fix cannot make
# the recall grade against a different LSH than topk verifies
_LSH_CAND_CTES = f"""p AS (SELECT {_PLANES_SQL} AS pl),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    qs AS (SELECT {_BAND_SQL.format(v='q.qv')} AS qb FROM q, p),
    sigs AS (
        SELECT e.vec_id, e.embedding,
               {_BAND_SQL.format(v='e.embedding')} AS eb
        FROM embeddings e, p WHERE e.vec_id <> 0
    ),
    cand AS (
        SELECT s.vec_id, s.embedding
        FROM sigs s, qs
        WHERE s.eb[1] = qs.qb[1] OR s.eb[2] = qs.qb[2]
           OR s.eb[3] = qs.qb[3] OR s.eb[4] = qs.qb[4]
    )"""

_ANN_LSH_ORACLE = f"""
    WITH {_LSH_CAND_CTES}
    SELECT vec_id FROM (
        SELECT e.vec_id, {_COS_SQL} AS sim FROM cand e, q
    ) ORDER BY sim DESC, vec_id LIMIT 10
"""


@_register(
    "llm_ann_lsh_topk",
    ["similarity"],
    _ANN_LSH_ORACLE,
    note=(
        "LSH-pruned ANN top-10 (candidates share ≥1 signature band "
        "with the query); DuckDB replays the seed-42 hyperplane "
        "signatures from embedded plane literals."
    ),
)
def llm_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return similarity.ann_lsh_topk(e.filter(F.col("vec_id") != 0), qvec, k=10).select(
        "vec_id"
    )


_IVF_ORACLE = f"""
    WITH c AS (
      SELECT list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS cl
      FROM embeddings WHERE vec_id < 16
    ), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    a0 AS (
      SELECT e.vec_id, e.embedding,
             list_transform(range(16), k ->
               list_sum(list_transform(range(1, 65), i ->
                 (CAST(e.embedding[i] AS DOUBLE) - c.cl[k + 1][i])
                 * (CAST(e.embedding[i] AS DOUBLE) - c.cl[k + 1][i])))) AS d
      FROM embeddings e, c WHERE e.vec_id <> 0
    ),
    cells AS (
      SELECT vec_id, embedding,
             CAST(list_position(d, list_min(d)) - 1 AS INT) AS cell
      FROM a0
    ),
    qd AS (
      SELECT list_transform(range(16), k ->
               list_sum(list_transform(range(1, 65), i ->
                 (CAST(q.qv[i] AS DOUBLE) - c.cl[k + 1][i])
                 * (CAST(q.qv[i] AS DOUBLE) - c.cl[k + 1][i])))) AS d
      FROM q, c
    ),
    probe AS (
      SELECT CAST(t.k AS INT) AS cell
      FROM qd, range(16) t(k)
      ORDER BY qd.d[CAST(t.k AS INT) + 1], t.k
      LIMIT 4
    )
    SELECT vec_id FROM (
      SELECT e.vec_id, {_COS_SQL} AS sim
      FROM cells e, probe, q WHERE e.cell = probe.cell
    ) ORDER BY sim DESC, vec_id LIMIT 10
"""


@_register(
    "llm_ivf_topk",
    ["similarity"],
    _IVF_ORACLE,
    note=(
        "IVF ANN: nprobe=4 cell probe + exact cosine re-rank. The "
        "conformance query pins the coarse quantizer to the first 16 "
        "vectors (semdedup-style: 0 Lloyd iterations) so DuckDB "
        "replays cell assignment AND the probe-cell choice from the "
        "table itself; the fitted-k-means path (fit_kmeans, seeded "
        "bounded sample) is pinned by tests/test_llm_ops.py instead."
    ),
)
def llm_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 16)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    ]
    return similarity.ivf_topk(
        e.filter(F.col("vec_id") != 0), qvec, k=10, centroids=cents
    ).select("vec_id")


# PQ with m=8 subspaces of 8 dims, k=16 codes pinned to the first 16
# vectors' subvectors (0 training iterations, semdedup/IVF-style), so
# DuckDB replays encode + ADC from the table itself.  dist ordering is
# (adc, vec_id); vectors sharing all 8 codes have EXACTLY equal adc on
# both engines, so the id tie-break is exercised, not float luck.
_PQ_ORACLE = """
    WITH cb AS (
      SELECT list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS cl
      FROM embeddings WHERE vec_id < 16
    ), q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
             FROM embeddings WHERE vec_id = 0),
    enc AS (
      SELECT e.vec_id,
             list_transform(range(8), s ->
               list_transform(range(16), c ->
                 list_sum(list_transform(range(1, 9), i ->
                   (CAST(e.embedding[s * 8 + i] AS DOUBLE)
                      - cb.cl[c + 1][s * 8 + i])
                   * (CAST(e.embedding[s * 8 + i] AS DOUBLE)
                      - cb.cl[c + 1][s * 8 + i]))))) AS dl
      FROM embeddings e, cb WHERE e.vec_id <> 0
    ),
    codes AS (
      SELECT vec_id,
             list_transform(dl, d -> list_position(d, list_min(d)) - 1) AS code
      FROM enc
    ),
    lut AS (
      SELECT list_transform(range(8), s ->
               list_transform(range(16), c ->
                 list_sum(list_transform(range(1, 9), i ->
                   (q.qv[s * 8 + i] - cb.cl[c + 1][s * 8 + i])
                   * (q.qv[s * 8 + i] - cb.cl[c + 1][s * 8 + i]))))) AS t
      FROM q, cb
    )
    SELECT vec_id FROM (
      SELECT c.vec_id,
             list_sum(list_transform(range(8), s ->
               lut.t[s + 1][c.code[s + 1] + 1])) AS adc
      FROM codes c, lut
    ) ORDER BY adc, vec_id LIMIT 10
"""


@_register(
    "llm_pq_topk",
    ["similarity"],
    _PQ_ORACLE,
    note=(
        "Product-quantization ADC top-10: vectors compress to m=8 "
        "codebook indices; query distance = sum of 8 lookup-table "
        "entries — the scan reads codes, never raw vectors (the "
        "billion-vector index layout).  Codebooks pinned to the first "
        "16 vectors' subvectors so DuckDB replays encode AND the ADC "
        "ranking from the table; the trained-codebook path (fit_pq) "
        "is pinned by tests/test_llm_ops.py recall bounds instead."
    ),
)
def llm_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    first16 = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 16)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    ]
    # codebook for subspace s = the 16 pinned vectors' s-th subvector
    books = [[v[s * 8 : (s + 1) * 8] for v in first16] for s in range(8)]
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return similarity.pq_topk(
        e.filter(F.col("vec_id") != 0), qvec, k=10, codebooks=books
    ).select("vec_id")


@_register(
    "llm_multimodal",
    ["multimodal"],
    """
    SELECT doc_id AS asset_id,
           CAST(64 + (CAST(concat('0x', substr(sha256(coalesce(text,'')), 1, 2))
                      AS INT) % 192) AS INT) AS width,
           CAST(64 + (CAST(concat('0x', substr(sha256(coalesce(text,'')), 3, 2))
                      AS INT) % 192) AS INT) AS height,
           CAST(octet_length(encode(coalesce(text,''))) AS BIGINT) AS n_bytes,
           md5(coalesce(text,'')) AS checksum
    FROM documents ORDER BY doc_id
    """,
    note=(
        "Binary-column pipeline: documents→media bytes→mapInPandas "
        "decode→feature rows. The deterministic digest-derived decode "
        "is replayed by DuckDB (sha256/md5 over the same UTF-8 bytes), "
        "so the Arrow plumbing is hash-verified end-to-end; a real "
        "codec (PIL/ffmpeg) drops into the same UDF on a real cluster."
    ),
)
def llm_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # presort the cheap scan: an orderBy AFTER mapInPandas would run
    # the decode pipeline twice (range-sampler pass + real pass); the
    # Arrow UDF is map-only and order-preserving, so sorted input +
    # ordered partition ranges give the same global order for free
    d = _docs_sorted(spark, sf_dir)
    media = d.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("modality"),
        F.lit("image/fake").alias("mime_type"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit(None).cast("string").alias("uri"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    feats = multimodal.extract_image_features(media)
    return feats.select("asset_id", "width", "height", "n_bytes", "checksum")


# ---------------------------------------------------------------------------
# Curation: splits, decontamination, repetition, selection, centroids
# ---------------------------------------------------------------------------

from temp_data_pipeline_spark.plans.declared import _rnd_sql as _rnd_sql_local  # noqa: E402


@_register(
    "llm_hash_split",
    ["curation"],
    f"""
    SELECT doc_id,
           CASE WHEN {_INT60_SQL.format(x="CAST(doc_id AS VARCHAR)")} % 100 < 80
                THEN 'train'
                WHEN {_INT60_SQL.format(x="CAST(doc_id AS VARCHAR)")} % 100 < 90
                THEN 'val'
                ELSE 'test' END AS split
    FROM documents ORDER BY doc_id
    """,
    note=(
        "Deterministic md5-keyed 80/10/10 split: membership is a pure "
        "function of the id, so re-runs and cross-engine replays never "
        "migrate a document between train and test."
    ),
)
def llm_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.curate import hash_split

    d = _docs_sorted(spark, sf_dir)
    return hash_split(d, "doc_id").select("doc_id", "split")


@_register(
    "llm_decontam",
    ["curation", "dedup"],
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 5, 1) + 1),
                                   i -> array_to_string(t[i:i+5], ' '))) AS gram
      FROM toks
    ), test_grams AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0
    )
    SELECT g.doc_id, COUNT(*) AS n_shared
    FROM grams g JOIN test_grams tg USING (gram)
    WHERE g.doc_id % 10 <> 0
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """,
    note=(
        "Eval decontamination: distinct 6-gram collisions between each "
        "train doc and the test corpus (held out by doc_id % 10). "
        "Single-scan form (train/test are partitions of one corpus, so "
        "the source is read once), xxhash64 gram keys (8-byte shuffle "
        "keys; exact up to 64-bit collisions), one hash join; short "
        "docs contribute their truncated gram identically in both "
        "engines."
    ),
)
def llm_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.curate import ngram_overlap_single

    d = load_table(spark, sf_dir, "documents")
    return ngram_overlap_single(
        d, F.col("doc_id") % 10 == 0, n=6
    ).orderBy("doc_id")


@_register(
    "llm_repetition",
    ["curation", "text-analysis"],
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), cnt AS (
      SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w
    )
    SELECT doc_id,
           {_rnd_sql_local('MAX(c) * 1.0 / SUM(c)', 4)} AS top_token_frac,
           {_rnd_sql_local('COUNT(*) * 1.0 / SUM(c)', 4)} AS distinct_ratio,
           CAST(SUM(c) AS BIGINT) AS n_tokens
    FROM cnt GROUP BY doc_id ORDER BY doc_id
    """,
    note=(
        "Gopher-style repetition signals: top-token fraction + "
        "type/token ratio per document. Map-reduce shape (two keyed "
        "shuffles), no per-doc quadratic scans."
    ),
)
def llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.curate import repetition_stats
    from temp_data_pipeline_spark.plans.declared import _rnd

    d = load_table(spark, sf_dir, "documents")
    s = repetition_stats(d)
    return s.select(
        "doc_id",
        _rnd(F.col("top_token_frac"), 4).alias("top_token_frac"),
        _rnd(F.col("distinct_ratio"), 4).alias("distinct_ratio"),
        "n_tokens",
    ).orderBy("doc_id")


@_register(
    "llm_stratified",
    ["curation"],
    f"""
    SELECT doc_id, lang
    FROM documents
    WHERE ({_INT60_SQL.format(x="concat('mix1:', CAST(doc_id AS VARCHAR))")}) % 1000000
          < CASE lang WHEN 'en' THEN 1000000 WHEN 'fr' THEN 500000
                      WHEN 'es' THEN 250000 ELSE 100000 END
    ORDER BY doc_id
    """,
    note=(
        "Deterministic stratified corpus-mix sampling: per-language "
        "keep fractions decided by an md5 bucket of the doc id — "
        "map-only, engine-stable (reruns/backfills keep identical "
        "rows), salt-decorrelated from hash_split."
    ),
)
def llm_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.curate import stratified_sample

    d = _docs_sorted(spark, sf_dir)
    return stratified_sample(
        d,
        {"en": 1.0, "fr": 0.5, "es": 0.25},
        strata_col="lang",
        salt="mix1:",
        default_frac=0.1,
    ).select("doc_id", "lang")


@_register(
    "llm_keywords",
    ["text-analysis", "curation"],
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    )
    SELECT doc_id, rank, term, tf, df FROM (
        SELECT t.doc_id, t.term, t.tf, d.df,
               ROW_NUMBER() OVER (
                   PARTITION BY t.doc_id
                   ORDER BY t.tf DESC, d.df ASC, t.term ASC
               ) AS rank
        FROM tf t JOIN dfreq d USING (term)
    ) WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
    note=(
        "TF-IDF-style keyword extraction with an integer-exact "
        "ranking (tf DESC, df ASC, term ASC) — characteristic terms "
        "without a float log in the ordering, so both engines rank "
        "bit-identically; the float tf*ln(N/df) score is available "
        "via with_score=True and pinned by pytest."
    ),
)
def llm_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.curate import top_keywords

    d = load_table(spark, sf_dir, "documents")
    return top_keywords(d, k=3).orderBy("doc_id", "rank")


@_register(
    "llm_topk_lang",
    ["curation"],
    """
    SELECT lang, doc_id, n_chars FROM (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    ) WHERE rn <= 3
    ORDER BY lang, doc_id
    """,
    note=(
        "Per-group selection: keep the 3 largest documents per "
        "language — window row_number, one shuffle on the group key."
    ),
)
def llm_topk_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.curate import topk_per_group

    d = load_table(spark, sf_dir, "documents")
    return (
        topk_per_group(d, "lang", "n_chars", k=3)
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    )


@_register(
    "llm_centroid",
    ["similarity", "curation"],
    f"""
    SELECT label, pos,
           {_rnd_sql_local('AVG(CAST(v AS DOUBLE))', 4)} AS centroid_v
    FROM (
      SELECT label,
             unnest(embedding) AS v,
             unnest(range(len(embedding))) AS pos
      FROM embeddings
    )
    GROUP BY label, pos
    ORDER BY label, pos
    """,
    note=(
        "Per-label embedding centroids (IVF coarse-quantizer training "
        "/ class prototypes): posexplode + groupBy(label, pos); the "
        "shuffle carries only partial sums, invariant in corpus size."
    ),
)
def llm_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.similarity import label_centroids
    from temp_data_pipeline_spark.plans.declared import _rnd

    e = load_table(spark, sf_dir, "embeddings")
    return (
        label_centroids(e)
        .select("label", "pos", _rnd(F.col("centroid_v"), 4).alias("centroid_v"))
        .orderBy("label", "pos")
    )


@_register(
    "llm_lm_score",
    ["LLM-lm"],
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    pairs AS (
      SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks
    ),
    bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM pairs GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bg GROUP BY 1),
    v AS (SELECT count(DISTINCT w) AS vs FROM (SELECT unnest(t) AS w FROM toks)),
    model AS (
      SELECT b.w1, b.w2,
             CAST(FLOOR(ln(CAST(c.c1 + (SELECT vs FROM v) AS DOUBLE)
                           / CAST(b.c12 + 1 AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS nll_micro
      FROM bg b JOIN ctx c USING (w1)
    ),
    scored AS (
      SELECT p.doc_id, m.nll_micro
      FROM pairs p JOIN model m ON p.w1 = m.w1 AND p.w2 = m.w2
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(nll_micro) AS BIGINT) AS nll_micro
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
    note=(
        "Bigram-LM perplexity scoring (CCNet-style quality signal): "
        "train add-one-smoothed bigram counts in one shuffle, score "
        "docs by joining exploded bigrams to the aggregated model. "
        "NLL terms are quantized to integer micro-nats ON THE MODEL "
        "TABLE (ln runs per distinct bigram, not per occurrence) so "
        "per-doc sums are exact integer arithmetic — "
        "order-independent, hash-stable across engines."
    ),
)
def llm_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.lm import score_bigram_nll, train_bigram_lm

    d = load_table(spark, sf_dir, "documents")
    lm = train_bigram_lm(d)
    return score_bigram_nll(d, lm).orderBy("doc_id")


@_register(
    "llm_chunk",
    ["LLM-chunk"],
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    base AS (
      SELECT doc_id, t,
             CAST(floor((greatest(len(t), 1) - 1) / 24) AS BIGINT) + 1 AS nch
      FROM toks
    ),
    ex AS (SELECT doc_id, t, unnest(range(nch)) AS cid FROM base)
    SELECT doc_id, cid AS chunk_id,
           CAST(len(t[cid*24 + 1 : cid*24 + 32]) AS BIGINT) AS n_tokens,
           array_to_string(t[cid*24 + 1 : cid*24 + 32], ' ') AS chunk_text
    FROM ex ORDER BY doc_id, chunk_id
    """,
    note=(
        "Sliding context-window chunking (size 32, stride 24 → 8-token "
        "overlap): sequence + posexplode + slice, map-only JVM "
        "expressions — zero shuffles, linear in input bytes."
    ),
)
def llm_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.chunk import chunk_documents

    d = _docs_sorted(spark, sf_dir)
    return chunk_documents(d, size=32, stride=24)


@_register(
    "llm_pack",
    ["LLM-pack"],
    """
    WITH tc AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS begin
      FROM tc)
    SELECT doc_id, n_tokens, begin,
           CAST(floor(begin / 1024.0) AS BIGINT) AS pack_id,
           begin % 1024 AS pack_off
    FROM c ORDER BY doc_id
    """,
    note=(
        "GPT-style concat-and-chunk sequence packing (seq_len 1024). "
        "The global token prefix-sum runs as the two-level shape "
        "(bucketed parallel windows + a bucket-count-sized offset "
        "table broadcast back), NOT a single-partition global window; "
        "the DuckDB oracle's plain windowed SUM proves the "
        "decomposition is exact."
    ),
)
def llm_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.chunk import pack_documents

    d = load_table(spark, sf_dir, "documents")
    return pack_documents(d, seq_len=1024).orderBy("doc_id")


@_register(
    "llm_pack_read",
    ["LLM-pack"],
    """
    WITH tc AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    c AS (
      SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(COALESCE(SUM(len(t)) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS begin
      FROM tc),
    ex AS (
      SELECT t, n_tokens, begin, unnest(range(6)) AS pack_id FROM c),
    ov AS (
      SELECT pack_id, begin,
             CAST(greatest(pack_id*32 - begin, 0) AS BIGINT) AS tok_lo,
             CAST(least(n_tokens, (pack_id+1)*32 - begin) AS BIGINT) AS tok_hi,
             t
      FROM ex
      WHERE begin < (pack_id+1)*32 AND begin + n_tokens > pack_id*32)
    SELECT pack_id,
           CAST(SUM(tok_hi - tok_lo) AS BIGINT) AS n_tokens,
           string_agg(array_to_string(t[tok_lo+1 : tok_hi], ' '),
                      ' ' ORDER BY begin) AS tokens_csv
    FROM ov GROUP BY pack_id ORDER BY pack_id
    """,
    note=(
        "Pack READER: the inverse of llm_pack — reassemble training "
        "sequences 0..5 (seq_len 32) from the packed layout. Each "
        "document explodes onto only the packs it overlaps, then ONE "
        "shuffle keyed by pack_id sorts segments by stream offset and "
        "flattens; reducer payload is bounded by seq_len however long "
        "a document is. Same operator drives "
        "pipeline.materialize_packs over committed shard tables with "
        "shard-partition pruning from the manifest geometry."
    ),
)
def llm_pack_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.chunk import pack_documents, reassemble_packs

    d = load_table(spark, sf_dir, "documents")
    packed = pack_documents(d, seq_len=32).join(
        d.select("doc_id", "text"), "doc_id"
    )
    return (
        reassemble_packs(packed, 32, 0, 6)
        .select(
            "pack_id",
            "n_tokens",
            F.array_join("tokens", " ").alias("tokens_csv"),
        )
        .orderBy("pack_id")
    )


_PII_INJECT_SQL = """concat('mail u', CAST(doc_id AS VARCHAR), '@ex',
        CAST(doc_id % 3 AS VARCHAR), '.com ip 10.',
        CAST(doc_id % 256 AS VARCHAR), '.0.',
        CAST(doc_id % 100 AS VARCHAR), ' ssn 123-45-',
        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' tel 555-867-',
        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' ', text)"""

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IP = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
_PII_SSN = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
_PII_PHONE = "\\b\\d{3}-\\d{3}-\\d{4}\\b"


@_register(
    "llm_pii",
    ["LLM-pii"],
    f"""
    WITH inj AS (
      SELECT doc_id, {_PII_INJECT_SQL} AS raw FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(raw, '{_PII_IP}')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(raw, '{_PII_SSN}')) AS BIGINT) AS n_ssn,
           CAST(len(regexp_extract_all(raw, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
           substr(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               raw, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                    '{_PII_IP}', '<IP>', 'g'),
                    '{_PII_SSN}', '<SSN>', 'g'),
                    '{_PII_PHONE}', '<PHONE>', 'g'), 1, 90) AS clean_head
    FROM inj ORDER BY doc_id
    """,
    note=(
        "PII scrub: deterministic synthetic PII (email/IP/SSN/phone "
        "derived from doc_id) injected identically in both engines, "
        "then class-counted (regexp_extract_all) and token-redacted "
        "(regexp_replace, all occurrences — DuckDB needs 'g'). "
        "Map-only JVM regex; patterns restricted to the Java∩RE2 "
        "syntax subset."
    ),
)
def llm_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.pii import with_pii_scrubbed

    d = _docs_sorted(spark, sf_dir)
    raw = F.concat(
        F.lit("mail u"), F.col("doc_id").cast("string"),
        F.lit("@ex"), (F.col("doc_id") % 3).cast("string"),
        F.lit(".com ip 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."), (F.col("doc_id") % 100).cast("string"),
        F.lit(" ssn 123-45-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" tel 555-867-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" "), F.col("text"),
    )
    return (
        with_pii_scrubbed(d.select("doc_id", raw.alias("raw")), text_col="raw")
        .select(
            "doc_id", "n_email", "n_ip", "n_ssn", "n_phone",
            F.substring("clean_text", 1, 90).alias("clean_head"),
        )
    )


@_register(
    "llm_corpus_report",
    ["LLM-report", "A10"],
    """
    WITH base AS (
      SELECT source, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents)
    SELECT COALESCE(source, '<all>') AS source,
           COALESCE(lang, '<all>') AS lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(quantile_cont(n_toks, 0.5) AS DOUBLE) AS p50_tokens,
           FLOOR(CAST(SUM(n_chars) AS DOUBLE) / count(*) * 100.0 + 0.5) / 100.0
             AS avg_chars
    FROM base
    GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
    ORDER BY source, lang
    """,
    note=(
        "Corpus-mix report: every (source × lang) rollup level in ONE "
        "Expand + hash shuffle (GROUPING SETS), with exact median "
        "token counts (percentile ≡ quantile_cont) and "
        "integer-sum-derived means (no float accumulation order "
        "dependence)."
    ),
)
def llm_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.curate import corpus_report

    d = load_table(spark, sf_dir, "documents")
    return corpus_report(d).orderBy("source", "lang")


@_register(
    "llm_bloom_decontam",
    ["curation", "dedup"],
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 5, 1) + 1),
                                   i -> array_to_string(t[i:i+5], ' '))) AS gram
      FROM toks
    ), test_grams AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0
    )
    SELECT g.doc_id, COUNT(*) AS n_shared
    FROM grams g JOIN test_grams tg USING (gram)
    WHERE g.doc_id % 10 <> 0
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """,
    note=(
        "Decontamination via broadcast Bloom prefilter: eval-gram bit "
        "positions computed distributed (k-seeded xxhash64), 8 KiB "
        "bitset embedded as an array literal, probed map-side with "
        "element_at/shiftleft/& JVM expressions BEFORE the exchange; "
        "exact confirm join kills false positives. The oracle is the "
        "EXACT overlap SQL — a hash match proves the Bloom gate is "
        "transparent. At 100 TB only Bloom survivors shuffle."
    ),
)
def llm_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.bloom import bloom_decontam

    d = load_table(spark, sf_dir, "documents")
    test = d.filter(F.col("doc_id") % 10 == 0)
    train = d.filter(F.col("doc_id") % 10 != 0)
    return bloom_decontam(train, test, n=6).orderBy("doc_id")


@_register(
    "llm_dup_ngram_frac",
    ["curation", "dedup", "text-analysis"],
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 7, 1) + 1),
                                   i -> array_to_string(t[i:i+7], ' '))) AS gram
      FROM toks
    ), gd AS (
      SELECT gram, doc_id, COUNT(*) AS c FROM grams GROUP BY gram, doc_id
    ), dfreq AS (
      SELECT gram, COUNT(*) AS df FROM gd GROUP BY gram
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df > 1 THEN c ELSE 0 END) AS BIGINT)
             AS n_dup_grams
    FROM gd JOIN dfreq USING (gram)
    GROUP BY doc_id ORDER BY doc_id
    """,
    note=(
        "Inter-document duplicated 8-gram fraction (MassiveText "
        "dup-signal): occurrences kept (not shingle sets), gram "
        "document-frequency reduced from per-(gram,doc) rows so the "
        "second shuffle is distinct-pairs-sized. Integer outputs only."
    ),
)
def llm_dup_ngram_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.curate import dup_ngram_stats

    d = load_table(spark, sf_dir, "documents")
    return dup_ngram_stats(d, n=8).orderBy("doc_id")


@_register(
    "llm_intra_dup",
    ["curation", "text-analysis"],
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                                   i -> array_to_string(t[i:i+2], ' '))) AS gram
      FROM toks
    ), per AS (
      SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_intra_dup,
           CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
             AS dup_frac
    FROM per GROUP BY doc_id ORDER BY doc_id
    """,
    note=(
        "WITHIN-document duplicate 3-gram fraction (Gopher Table A1 "
        "intra-doc repetition): repeats of a gram inside the same "
        "document, the looping-generation / copy-paste filter that "
        "token-level and inter-document signals miss. Integer counts "
        "plus one exact double ratio of those integers."
    ),
)
def llm_intra_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.curate import intra_dup_ngram_stats

    d = load_table(spark, sf_dir, "documents")
    return intra_dup_ngram_stats(d, n=3).orderBy("doc_id")


@_register(
    "llm_heavy_hitters",
    ["text-analysis", "A1"],
    """
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks GROUP BY token
    ORDER BY cnt DESC, token LIMIT 25
    """,
    note=(
        "Exact corpus-wide top-25 token frequencies: map-side partial "
        "counts + TakeOrdered (k rows to the driver, no global sort). "
        "The exact tier the Count-Min sketch estimates "
        "(operators/sketches.py::cms_build) are error-bounded against "
        "in tests/test_quantiles.py."
    ),
)
def llm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.operators.sketches import heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    toks = tokenized(d, "text", keep=[]).select(F.explode(F.col("_tok")).alias("token"))
    return heavy_hitters(toks, "token", k=25)


# Cosine between two table aliases a/b for the SemDeDup verify —
# identical float math to _COS_SQL (cast-to-double before multiply,
# list_sum fold) with both sides coming from the cells CTE.
_COS_AB_SQL = """list_sum(list_transform(range(1, 65),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
               * sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))"""


@_register(
    "llm_semdedup",
    ["similarity", "dedup"],
    f"""
    WITH c AS (
      SELECT list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS cl
      FROM embeddings WHERE vec_id < 16
    ), a0 AS (
      SELECT e.vec_id, e.embedding,
             list_transform(range(16), k ->
               list_sum(list_transform(range(1, 65), i ->
                 (CAST(e.embedding[i] AS DOUBLE) - c.cl[k + 1][i])
                 * (CAST(e.embedding[i] AS DOUBLE) - c.cl[k + 1][i])))) AS d
      FROM embeddings e, c
    ), cells AS (
      SELECT vec_id, embedding,
             CAST(list_position(d, list_min(d)) - 1 AS INT) AS cell
      FROM a0
    ), dups AS (
      SELECT DISTINCT b.vec_id
      FROM cells a JOIN cells b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {_COS_AB_SQL} >= 0.4
    )
    SELECT c2.vec_id, c2.cell, d.vec_id IS NULL AS kept
    FROM cells c2 LEFT JOIN dups d ON c2.vec_id = d.vec_id
    ORDER BY c2.vec_id
    """,
    note=(
        "SemDeDup (coarse k-means cells + within-cell cosine ≥ 0.4, "
        "keep-lowest-id). The conformance query pins the quantizer to "
        "the first 16 vectors (0 Lloyd iterations) so DuckDB replays "
        "assignment from the TABLE itself — no fitted literals; the "
        "operator's fit_kmeans path is pinned by tests instead. "
        "Distance/argmin/cosine math is bit-identical on both sides."
    ),
)
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 16)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    ]
    return similarity.semdedup(e, threshold=0.4, centroids=cents).orderBy("vec_id")


@_register(
    "llm_span_dedup",
    ["dedup", "curation"],
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tok FROM documents
    ), base AS (
      SELECT doc_id, len(tok) AS L,
             CAST(floor(len(tok) / 6) AS INT) AS nc, tok
      FROM t
    ), chunks AS (
      SELECT doc_id, CAST(u.i AS INT) AS pos,
             array_to_string(tok[CAST(u.i AS INT) * 6 + 1
                                 : CAST(u.i AS INT) * 6 + 6], ' ') AS span,
             TRUE AS dedupable
      FROM base, LATERAL unnest(range(nc)) u(i)
      UNION ALL
      SELECT doc_id, nc AS pos,
             array_to_string(tok[nc * 6 + 1 : L], ' ') AS span, FALSE
      FROM base WHERE L % 6 <> 0
    ), keyed AS (
      SELECT doc_id, pos, span,
             CASE WHEN dedupable THEN {_INT60_SQL.format(x="span")}
                  ELSE {_INT60_SQL.format(
                      x="concat('rem:', CAST(doc_id AS VARCHAR), ':', CAST(pos AS VARCHAR))"
                  )}
             END AS k
      FROM chunks
    ), kept AS (
      SELECT doc_id, pos, span FROM (
        SELECT doc_id, pos, span,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rn
        FROM keyed
      ) WHERE rn = 1
    ), agg AS (
      SELECT doc_id, string_agg(span, ' ' ORDER BY pos) AS text_clean,
             CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           COALESCE(a.text_clean, '') AS text_clean,
           CAST(b.nc + CASE WHEN b.L % 6 <> 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_spans,
           COALESCE(a.n_kept, 0) AS n_kept
    FROM base b LEFT JOIN agg a USING (doc_id)
    ORDER BY b.doc_id
    """,
    note=(
        "Corpus-wide exact substring (6-token span) dedup — the Lee "
        "et al. 2022 ExactSubstr family: every repeated chunk keeps "
        "only its first (doc, pos) occurrence and documents are "
        "reassembled from survivors, deleting boilerplate inside "
        "otherwise-unique documents. One hash exchange on the 60-bit "
        "md5 span key ranks occurrences; reassembly is a per-doc "
        "sort_array. String output — no float in the hash compare."
    ),
)
def llm_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.curate import span_dedup

    d = load_table(spark, sf_dir, "documents")
    return span_dedup(d, n=6).orderBy("doc_id")


@_register(
    "llm_mix_temperature",
    ["curation"],
    f"""
    WITH c AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ), m AS (SELECT MIN(n) AS nmin FROM c),
    thr AS (
      SELECT lang,
             CAST(floor(sqrt(CAST(m.nmin AS DOUBLE) / CAST(n AS DOUBLE))
                        * 1000000) AS BIGINT) AS t
      FROM c, m
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN thr USING (lang)
    WHERE ({_INT60_SQL.format(x="concat('mixT:', CAST(doc_id AS VARCHAR))")})
          % 1000000 < thr.t
    ORDER BY d.doc_id
    """,
    note=(
        "Temperature-flattened corpus mixing (alpha = 0.5): keep "
        "fraction sqrt(n_min/n_s) per language, so the surviving mix "
        "follows n^alpha — the multilingual rebalancing step of "
        "published LM pipelines. Per-stratum counts are one tiny "
        "aggregate; membership is the deterministic md5 bucket family "
        "(rerun-stable, DuckDB-replayable: sqrt/divide/floor are all "
        "IEEE-correctly-rounded, so thresholds agree bit-exactly)."
    ),
)
def llm_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.curate import mix_temperature

    d = load_table(spark, sf_dir, "documents")
    return mix_temperature(d, strata_col="lang", alpha=0.5, salt="mixT:").select(
        "doc_id", "lang"
    ).orderBy("doc_id")


@_register(
    "llm_classifier",
    ["curation", "text-analysis"],
    f"""
    WITH wt AS (
      SELECT CAST(u.i AS BIGINT) AS bucket,
             CAST(({_INT60_SQL.format(x="concat('w:', CAST(u.i AS VARCHAR))")})
                  % 2001 - 1000 AS DOUBLE) AS w
      FROM range(512) u(i)
    ), toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), b AS (
      SELECT doc_id, ({_INT60_SQL.format(x="tok")}) % 512 AS bucket FROM toks
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           COALESCE(SUM(w), 0.0) AS w_sum,
           COALESCE(SUM(w), 0.0) / COUNT(*) AS score
    FROM b LEFT JOIN wt USING (bucket)
    GROUP BY doc_id ORDER BY doc_id
    """,
    note=(
        "Hashed linear quality-classifier inference (fastText-style): "
        "tokens hash into 512 buckets, a broadcast weight table joins "
        "map-side, ONE per-document aggregation sums the weights. The "
        "conformance weights are md5-derived integers in [-1000,1000] "
        "(llm/classifier.py::hashed_weights), so the double sum is "
        "exact and order-independent and both engines agree on every "
        "score bit. The trained path (train_log_odds, one-pass NB "
        "log-odds) is pinned by tests/test_classifier.py."
    ),
)
def llm_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.classifier import (
        classifier_score,
        hashed_weights,
    )

    d = load_table(spark, sf_dir, "documents")
    w = hashed_weights(spark, 512)
    return classifier_score(d, w, dim=512).orderBy("doc_id")


@_register(
    "llm_filtered_ann",
    ["similarity"],
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    s AS (
        SELECT e.vec_id, {_COS_SQL} AS sim
        FROM embeddings e, q WHERE e.vec_id <> 0 AND e.label = 1
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS INT) AS rank,
           vec_id
    FROM s ORDER BY sim DESC, vec_id LIMIT 10
    """,
    note=(
        "Metadata-filtered vector search (label = 1 pre-filter, then "
        "exact cosine top-10): the predicate is applied before any "
        "vector arithmetic so it reaches the parquet scan as a pushed "
        "filter — the filtered-ANN query pattern of vector stores. "
        "Only (rank, vec_id) emitted, as llm_ann_topk."
    ),
)
def llm_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    topk = similarity.filtered_topk(
        e.filter(F.col("vec_id") != 0), qvec, F.col("label") == 1, k=10
    )
    w = Window.orderBy(F.desc("cosine"), F.col("vec_id"))
    return topk.select(F.row_number().over(w).cast("int").alias("rank"), "vec_id")


@_register(
    "llm_quantize_int8",
    ["similarity"],
    """
    SELECT vec_id,
           CASE WHEN amax > 0.0 THEN amax / 127.0 ELSE 0.0 END AS scale,
           CASE WHEN amax > 0.0
                THEN array_to_string(list_transform(v, x ->
                       CAST(greatest(-127.0, least(127.0,
                         floor(x * 127.0 / amax + 0.5))) AS INT)), ',')
                ELSE array_to_string(list_transform(v, x -> 0), ',')
           END AS codes_csv
    FROM (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)))
               AS amax
      FROM embeddings
    ) ORDER BY vec_id
    """,
    note=(
        "Symmetric per-vector int8 quantization (scale = max|x|/127, "
        "round-half-up codes clamped to ±127): 4x embedding "
        "compression as map-only JVM array expressions — no shuffle, "
        "no UDF, runs at scan speed. Codes are integers and the scale "
        "is one IEEE-exact divide, so the compare is bit-exact. The "
        "driver-facing shape flattens codes to one CSV string per "
        "vector (the harness canonicalizer can't sort list cells — "
        "same flattening pattern as llm_minhash's mh0..mh3); the "
        "in-engine API (similarity.quantize_int8) keeps array<int>."
    ),
)
def llm_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = similarity.quantize_int8(e)
    return q.select(
        "vec_id",
        "scale",
        F.array_join(
            F.transform(F.col("codes"), lambda x: x.cast("string")), ","
        ).alias("codes_csv"),
    ).orderBy("vec_id")


_W_TOK_SQL = (
    "("
    + _INT60_SQL.format(
        x="concat('w:', CAST(({h}) % 512 AS VARCHAR))".format(
            h=_INT60_SQL.format(x="tok")
        )
    )
    + ") % 2001 - 1000"
)

_FUNNEL_ORACLE = f"""
    WITH g AS (
        SELECT doc_id, text,
               string_split(text, ' ') AS w,
               string_split(text, chr(10)) AS ln,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS nw,
               ((length(text) - length(regexp_replace(text, '\\#', '', 'g'))) / 1
                + (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3
                + (length(text) - length(regexp_replace(text, '…', '', 'g'))) / 1
               ) AS nsym,
               (length(text) - (len(string_split(text, ' ')) - 1))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_len
        FROM documents
    ), f AS (
        SELECT doc_id, md5(text) AS fp,
               (nw >= 30 AND nw <= 100000
                AND mean_len >= 3.0 AND mean_len <= 10.0
                AND nsym / greatest(nw, 1) <= 0.1
                AND len(list_filter(ln, l -> starts_with(l, '- ')
                        OR starts_with(l, '* ') OR starts_with(l, '• ')))
                    / CAST(greatest(len(ln), 1) AS DOUBLE) <= 0.9
                AND len(list_filter(ln, l -> ends_with(l, '...') OR ends_with(l, '…')))
                    / CAST(greatest(len(ln), 1) AS DOUBLE) <= 0.3
                AND len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
                    / greatest(nw, 1) >= 0.8
                AND len(list_filter(list_distinct(w), x -> x IN
                        ('the','be','to','of','and','that','have','with'))) >= 1
               ) AS gok,
               (list_max(list_transform(list_distinct(w),
                         x -> len(list_filter(w, y -> y = x)))) / nw <= 0.2
                AND len(list_distinct(w)) / nw >= 0.4) AS rok,
               (CAST(list_sum(list_transform(w, tok -> {_W_TOK_SQL}))
                     AS BIGINT) >= 0) AS cok
        FROM g
    ), s AS (
        SELECT doc_id, fp, gok,
               gok AND rok AS grok,
               gok AND rok AND cok AS grcok
        FROM f
    ), d AS (
        SELECT *,
               (grcok AND doc_id = MIN(CASE WHEN grcok THEN doc_id END)
                              OVER (PARTITION BY fp)) AS allok
        FROM s
    ), a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n0,
               CAST(SUM(CAST(gok AS INT)) AS BIGINT) AS n1,
               CAST(SUM(CAST(grok AS INT)) AS BIGINT) AS n2,
               CAST(SUM(CAST(grcok AS INT)) AS BIGINT) AS n3,
               CAST(SUM(CAST(allok AS INT)) AS BIGINT) AS n4
        FROM d
    )
    SELECT 0 AS stage_idx, 'raw' AS stage, n0 AS n_docs FROM a
    UNION ALL SELECT 1, 'gopher', n1 FROM a
    UNION ALL SELECT 2, 'repetition', n2 FROM a
    UNION ALL SELECT 3, 'classifier', n3 FROM a
    UNION ALL SELECT 4, 'dedup', n4 FROM a
    ORDER BY stage_idx
    """


@_register(
    "llm_curation_funnel",
    ["curation", "text-analysis", "dedup"],
    _FUNNEL_ORACLE,
    note=(
        "The whole curation pipeline in ONE pass with a per-stage "
        "survivor funnel: Gopher rules (min_words=30, ≥1 stopword — "
        "corpus-suited config) → repetition gates (top-token ≤ 0.2, "
        "type/token ≥ 0.4) → inline hashed classifier score ≥ 0 → "
        "exact-dup canonicalization among survivors. Every gate "
        "including the classifier is a map-only expression in one "
        "scan; dedup is one fingerprint window; the funnel is one "
        "tiny aggregate. Cumulative integer counts only."
    ),
)
def llm_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.curate import curation_funnel

    d = load_table(spark, sf_dir, "documents")
    return curation_funnel(
        d, gopher_kwargs={"min_words": 30, "min_stopword_hits": 1}
    ).orderBy("stage_idx")


# Pinned BPE merge table for the conformance query (fit_bpe's learned
# tables are pinned by tests/test_bpe.py instead — the fit is
# inherently sequential, like fit_kmeans/fit_pq, so the oracle replays
# only the distributed APPLY). Ranked to build common corpus words.
_BPE_MERGES = [
    ("t", "a"), ("b", "l"), ("ta", "bl"), ("tabl", "e"),
    ("s", "t"), ("o", "r"), ("a", "n"), ("s", "c"), ("sc", "an"),
    ("r", "o"), ("ro", "w"), ("w", "i"), ("n", "d"), ("wi", "nd"),
    ("wind", "o"), ("windo", "w"),
]


def _bpe_chain_sql(col: str) -> str:
    """The encode as a nested-replace chain over the \\x01sym\\x02
    wrapped representation — byte-identical to apply_bpe's fold
    (including the sentinel-byte pre-strip)."""
    stripped = f"regexp_replace({col}, '[\x01\x02]', '', 'g')"
    chain = f"regexp_replace({stripped}, '([^ ])', '\x01\\1\x02', 'g')"
    for a, b in _BPE_MERGES:
        chain = f"replace({chain}, '\x01{a}\x02\x01{b}\x02', '\x01{a}{b}\x02')"
    return chain


_BPE_ORACLE = f"""
    WITH e AS (
        SELECT doc_id, {_bpe_chain_sql("text")} AS enc FROM documents
    )
    SELECT doc_id,
           replace(replace(replace(enc, '\x02\x01', '|'), '\x01', ''),
                   '\x02', '') AS bpe,
           CAST(length(enc) - length(replace(enc, '\x01', '')) AS BIGINT)
             AS n_subwords
    FROM e ORDER BY doc_id
    """


@_register(
    "llm_bpe_encode",
    ["text-analysis", "curation"],
    _BPE_ORACLE,
    note=(
        "BPE tokenization (Sennrich et al.) with a pinned 16-merge "
        "table: every non-space char wraps as \\x01c\\x02, each merge "
        "is one plain string replace on that representation (the "
        "sentinels make leftmost non-overlapping replacement EXACTLY "
        "the classic per-word merge semantics — fuzz-pinned against a "
        "sequential reference in tests/test_bpe.py), then boundaries "
        "unwrap to '|'. Pure JVM string exprs, map-only, no UDF; "
        "n_subwords is the real model-token count."
    ),
)
def llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.bpe import apply_bpe

    d = load_table(spark, sf_dir, "documents")
    return apply_bpe(d, _BPE_MERGES).orderBy("doc_id")


_BPE_TRAIN_ROUNDS = 4

def _bpe_train_oracle(n_rounds: int) -> str:
    """DuckDB oracle for fit_bpe_distributed: the word-frequency
    aggregation + ``n_rounds`` chained merge rounds, each round one
    CTE trio (pair counts -> argmax -> merge applied by sentinel
    replace).  The \x01sym\x02 representation makes global string
    replace EXACTLY the classic leftmost-non-overlapping merge (the
    llm_bpe_encode trick, run in reverse for training)."""
    head = """
    WITH words AS (
      SELECT array_to_string(
               list_transform(range(1, length(w) + 1),
                              i -> chr(1) || w[i:i] || chr(2)), '') AS s,
             CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS w
            FROM documents WHERE text IS NOT NULL)
      WHERE w <> ''
      GROUP BY 1
    )"""
    parts = [head.replace("words AS", "w1 AS")]
    for r in range(1, n_rounds + 1):
        parts.append(f"""
    p{r} AS (
      SELECT string_split(u.p, chr(9))[1] AS a,
             string_split(u.p, chr(9))[2] AS b,
             SUM(f.freq) AS c
      FROM (SELECT string_split(s, chr(2) || chr(1)) AS syms, freq
            FROM w{r}) f,
      LATERAL unnest(list_transform(
        range(1, len(f.syms)),
        i -> replace(replace(f.syms[i], chr(1), ''), chr(2), '')
             || chr(9) ||
             replace(replace(f.syms[i + 1], chr(1), ''), chr(2), '')
      )) AS u(p)
      GROUP BY 1, 2
    ),
    b{r} AS (
      SELECT a, b FROM p{r} ORDER BY c DESC, a, b LIMIT 1
    ),
    w{r + 1} AS (
      SELECT replace(f.s,
                     chr(1) || m.a || chr(2) || chr(1) || m.b || chr(2),
                     chr(1) || m.a || m.b || chr(2)) AS s,
             f.freq
      FROM w{r} f, b{r} m
    )""")
    tail = "\n    UNION ALL\n".join(
        f"    SELECT {r} AS rank, a AS left_sym, b AS right_sym, "
        f"a || b AS merged FROM b{r}"
        for r in range(1, n_rounds + 1)
    )
    return ",".join(parts) + "\n" + tail + "\n    ORDER BY rank"


@_register(
    "llm_bpe_train",
    ["text-analysis", "curation"],
    _bpe_train_oracle(_BPE_TRAIN_ROUNDS),
    note=(
        "DISTRIBUTED BPE training (llm/bpe.py::fit_bpe_distributed): "
        "one full-corpus explode->groupBy word-frequency aggregation "
        "(the only pass that touches the data — the 100 TB scan "
        "happens once), then the deterministic merge loop over the "
        "VOCABULARY-sized count table (the fastBPE/HuggingFace "
        "trainer shape; exact corpus statistics, no sample bias). "
        "The oracle replays the first 4 merge rounds ITERATIVELY in "
        "SQL — each round one pair-count/argmax/sentinel-replace CTE "
        "trio, the llm_bpe_encode \\x01sym\\x02 trick run in "
        "reverse — so even the training loop is hash-compared, not "
        "rows-only."
    ),
)
def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.bpe import fit_bpe_distributed

    d = load_table(spark, sf_dir, "documents")
    merges = fit_bpe_distributed(
        d, n_merges=_BPE_TRAIN_ROUNDS, max_vocab_words=None
    )
    from temp_data_pipeline_spark.session import local_df

    return local_df(
        spark,
        [
            (r + 1, a, b, a + b)
            for r, (a, b) in enumerate(merges)
        ],
        "rank long, left_sym string, right_sym string, merged string",
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# Lexical retrieval (BM25)
# ---------------------------------------------------------------------------

from temp_data_pipeline_spark.llm.retrieval import bm25_oracle_sql, bm25_topk  # noqa: E402

_BM25_QUERY = "hash join stream"


@_register(
    "llm_bm25",
    ["retrieval"],
    bm25_oracle_sql(_BM25_QUERY, k=10),
    note=(
        "Okapi BM25 top-10 for a fixed query over documents: per-doc "
        "term frequencies are map-side array exprs (no per-term "
        "explode/shuffle), corpus stats (N, sum dl, per-term df) "
        "reduce to ONE global aggregate row broadcast back, scoring "
        "is map-only, and the top-k is TakeOrderedAndProject. Each "
        "term's contribution quantizes to integer nano-units BEFORE "
        "the sum (same integer-weight trick as llm_classifier), so "
        "scores are order-independent exact BIGINTs and the rank "
        "compare is engine-stable despite the ln()."
    ),
)
def llm_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return bm25_topk(d, _BM25_QUERY, k=10)


# ---------------------------------------------------------------------------
# Line dedup / vocabulary coverage / quality-aware cluster dedup
# ---------------------------------------------------------------------------


@_register(
    "llm_line_dedup",
    ["curation", "dedup"],
    """
    WITH lined AS (
      SELECT doc_id, replace(text, ' the ', chr(10)) AS t2 FROM documents
    ), d AS (
      SELECT doc_id, string_split(t2, chr(10)) AS ln FROM lined
    ), k AS (
      SELECT doc_id, ln,
             list_filter(
               list_transform(range(1, len(ln) + 1),
                 i -> CASE WHEN list_position(ln, ln[i]) = i
                           THEN ln[i] END),
               x -> x IS NOT NULL) AS kept
      FROM d
    )
    SELECT doc_id,
           array_to_string(kept, chr(10)) AS text_clean,
           CAST(len(ln) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept
    FROM k ORDER BY doc_id
    """,
    note=(
        "Intra-document exact line dedup (C4/RefinedWeb page "
        "cleaning): keep each line's first occurrence, order "
        "preserved — map-only array exprs, zero shuffles. The corpus "
        "has no newlines, so the conformance query derives line "
        "breaks deterministically first (replace ' the ' -> \\n, "
        "identical leftmost-non-overlap semantics in both engines); "
        "real corpora pass text through unchanged."
    ),
)
def llm_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.curate import line_dedup

    d = _docs_sorted(spark, sf_dir)
    lined = d.select(
        "doc_id", F.regexp_replace("text", " the ", "\n").alias("text")
    )
    return line_dedup(lined)


_KNN_JOIN_ORACLE = """
    WITH c AS (
      SELECT list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS cl
      FROM embeddings WHERE vec_id < 16
    ), a0 AS (
      SELECT e.vec_id, e.embedding,
             list_transform(range(16), k ->
               list_sum(list_transform(range(1, 65), i ->
                 (CAST(e.embedding[i] AS DOUBLE) - c.cl[k + 1][i])
                 * (CAST(e.embedding[i] AS DOUBLE) - c.cl[k + 1][i])))) AS d
      FROM embeddings e, c WHERE e.vec_id % 25 <> 0
    ), cells AS (
      SELECT vec_id, embedding,
             CAST(list_position(d, list_min(d)) - 1 AS INT) AS cell
      FROM a0
    ), q0 AS (
      SELECT e.vec_id AS qid, CAST(e.embedding AS DOUBLE[]) AS qv,
             list_transform(range(16), k ->
               list_sum(list_transform(range(1, 65), i ->
                 (CAST(e.embedding[i] AS DOUBLE) - c.cl[k + 1][i])
                 * (CAST(e.embedding[i] AS DOUBLE) - c.cl[k + 1][i])))) AS d
      FROM embeddings e, c WHERE e.vec_id % 25 = 0
    ), probe AS (
      SELECT qid, qv, CAST(t.k AS INT) AS cell
      FROM q0, range(16) t(k)
      QUALIFY row_number() OVER (PARTITION BY qid
               ORDER BY q0.d[CAST(t.k AS INT) + 1], t.k) <= 4
    ), scored AS (
      SELECT p.qid, e.vec_id AS nid,
             list_sum(list_transform(range(1, 65),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.qv[i] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
               * sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(p.qv[i] AS DOUBLE) * CAST(p.qv[i] AS DOUBLE))))) AS sim
      FROM cells e JOIN probe p ON e.cell = p.cell
    )
    SELECT qid AS query_id,
           CAST(row_number() OVER (PARTITION BY qid
                ORDER BY sim DESC, nid) AS INT) AS rank,
           nid AS neighbor_id
    FROM scored
    QUALIFY rank <= 5
    ORDER BY query_id, rank
"""


@_register(
    "llm_knn_join",
    ["similarity"],
    _KNN_JOIN_ORACLE,
    note=(
        "Batch ANN (kNN JOIN): top-5 approximate neighbors for EVERY "
        "query row at once — index rows assigned to their nearest "
        "cell, queries exploded onto their nprobe=4 nearest cells, "
        "one cell-keyed equi-join (never a cartesian), exact cosine "
        "re-rank per query via a window. The all-pairs O(Q x I) "
        "problem cut to cell-co-resident pairs; same pinned "
        "first-16-vector quantizer as llm_ivf_topk so DuckDB replays "
        "both sides\' cell choices from the table itself."
    ),
)
def llm_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 16)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    ]
    out = similarity.ivf_knn_join(
        e.filter(F.col("vec_id") % 25 == 0),
        e.filter(F.col("vec_id") % 25 != 0),
        cents,
        k=5,
        nprobe=4,
    )
    return out.orderBy("query_id", "rank")


@_register(
    "llm_shuffle",
    ["curation", "training-prep"],
    """
    SELECT doc_id,
           CAST(row_number() OVER (
             ORDER BY CAST(concat('0x', substr(md5(concat('epoch1:',
               CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) ASC,
               doc_id ASC
           ) AS BIGINT) AS shuffle_rank
    FROM documents
    ORDER BY doc_id
    """,
    note=(
        "Reproducible epoch shuffle: global permutation as a pure "
        "function of (seed, id) — restart- and retry-stable where "
        "ORDER BY rand() is neither; new seed string = new epoch "
        "permutation. md5-derived rank replayed exactly by the "
        "oracle (llm/curate.py::deterministic_shuffle)."
    ),
)
def llm_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.curate import deterministic_shuffle

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return presorted(
        deterministic_shuffle(d, seed="epoch1"), "doc_id"
    ).select("doc_id", "shuffle_rank")


@_register(
    "llm_normalize",
    ["curation", "text-analysis"],
    r"""
    WITH m AS (
      SELECT doc_id,
             replace(text, ' a ', concat(' ', chr(11), '  a ')) AS t0
      FROM documents
    ), n AS (
      SELECT doc_id, t0,
             trim(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(
                 t0, '\r\n?', chr(10), 'g'),
                 '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{0080}-\x{009F}]', '', 'g'),
                 '[ \t]+', ' ', 'g'),
                 ' ?\n ?', chr(10), 'g'),
                 '\n{3,}', concat(chr(10), chr(10)), 'g')) AS text_norm
      FROM m
    )
    SELECT doc_id, text_norm, text_norm <> t0 AS changed
    FROM n ORDER BY doc_id
    """,
    note=(
        "Crawl-text normalization (control-char strip, whitespace "
        "collapse, paragraph-preserving newline discipline, gated NFC "
        "tier): the pre-dedup cleanup that stops byte-level noise "
        "making identical content hash apart. Map-only regexp chain, "
        "zero shuffles; the NFC pandas-UDF tier only fires on rows "
        "containing non-ASCII (none in this corpus — the Unicode "
        "branch is pinned by tests/test_normalize.py). The query "
        "injects deterministic mess (a VT control char + run-on "
        "spaces at every ' a ') so normalization has real work."
    ),
)
def llm_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.text import normalize_text

    d = _docs_sorted(spark, sf_dir)
    messy = d.select(
        "doc_id",
        F.regexp_replace("text", " a ", " \x0b  a ").alias("text"),
    )
    return normalize_text(messy)


@_register(
    "llm_length_buckets",
    ["text-analysis", "training-prep"],
    """
    WITH n AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents
    ), b AS (
      SELECT nt,
             least(greatest(
               CASE WHEN nt <= 1 THEN CAST(1 AS BIGINT)
                    ELSE CAST(1 AS BIGINT)
                         << CAST(length(bin(nt - 1)) AS INT) END,
               CAST(16 AS BIGINT)), CAST(8192 AS BIGINT)) AS bucket_len
      FROM n
    )
    SELECT bucket_len,
           COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           CAST(SUM(greatest(bucket_len - nt, 0)) AS BIGINT) AS n_pad
    FROM b GROUP BY bucket_len ORDER BY bucket_len
    """,
    note=(
        "Sequence-length bucketing report (batch-scheduler input for "
        "length-bucketed training): docs binned to the next "
        "power-of-two token length, per-bucket doc/token/padding "
        "counts. ceil(log2) computed as length(bin(n-1)) so the "
        "boundary is exact integer math in both engines — no float "
        "log2 rounding at exact powers of two. Map-only + one "
        "aggregation at bucket cardinality."
    ),
)
def llm_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.chunk import length_buckets

    d = load_table(spark, sf_dir, "documents")
    return length_buckets(d).orderBy("bucket_len")


@_register(
    "llm_dedup_index",
    ["dedup", "index"],
    """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct(list_transform(
          range(1, greatest(len(t) - 2, 1) + 1),
          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM tok
    ), sig AS (
      SELECT doc_id, list_transform(range(8), j ->
          list_min(list_transform(s, x ->
            CAST(concat('0x', substr(md5(concat('s', CAST(j AS VARCHAR),
                 ':', x)), 1, 15)) AS BIGINT)
          ))) AS sg
      FROM sh
    ), bnd AS (
      SELECT doc_id, unnest(range(4)) AS band, sg FROM sig
    ), keyed AS (
      SELECT doc_id, band,
             concat_ws(',', CAST(sg[2*band+1] AS VARCHAR),
                            CAST(sg[2*band+2] AS VARCHAR)) AS bkey
      FROM bnd
    ), idx AS (
      SELECT * FROM keyed WHERE doc_id % 2 = 0
      QUALIFY row_number() OVER (PARTITION BY band, bkey
                                 ORDER BY doc_id) <= 1000
    ), bat AS (
      SELECT * FROM keyed WHERE doc_id % 2 = 1
    ), cand AS (
      SELECT DISTINCT b.doc_id AS id_new, i.doc_id AS id_indexed
      FROM bat b JOIN idx i ON b.band = i.band AND b.bkey = i.bkey
    ), ver AS (
      SELECT c.id_new, c.id_indexed,
             CAST(len(list_filter(range(8),
                  j -> sb.sg[j+1] = si.sg[j+1])) AS INT) AS n_eq
      FROM cand c
      JOIN sig sb ON sb.doc_id = c.id_new
      JOIN sig si ON si.doc_id = c.id_indexed
    )
    SELECT id_new, id_indexed, n_eq FROM ver WHERE n_eq >= 4
    ORDER BY id_new, id_indexed
    """,
    note=(
        "Persisted MinHash dedup index lifecycle: build on the even-id "
        "half (band keys + signatures as parquet, atomic manifest), "
        "probe the odd-id half — candidates from the (band, band-hash) "
        "equi-join pruned to the batch's _bh= shards, verified by "
        "signature Jaccard (n_eq/k >= 0.5). md5-int60 hash family so "
        "DuckDB replays signatures exactly; band-hash equality is "
        "replayed as band-slice equality. The continuous-ingestion "
        "scale path: a daily batch is checked against corpus history "
        "without rescanning it (llm/dedup_index.py)."
    ),
)
@scratch_table("dedup_index_")
def llm_dedup_index(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.dedup_index import (
        build_dedup_index,
        probe_neardups,
    )

    d = load_table(spark, sf_dir, "documents")
    build_dedup_index(
        d.filter(F.col("doc_id") % 2 == 0),
        path,
        k=8,
        bands=4,
        hash_fn="md5",
        max_bucket=1000,
    )
    return (
        probe_neardups(spark, path, d.filter(F.col("doc_id") % 2 == 1), threshold=0.5)
        .orderBy("id_new", "id_indexed")
    )


@_register(
    "llm_corpus_line_dedup",
    ["curation", "dedup"],
    """
    WITH lined AS (
      SELECT doc_id, replace(text, ' the ', chr(10)) AS t2 FROM documents
    ), d AS (
      SELECT doc_id, string_split(t2, chr(10)) AS ln FROM lined
    ), ex AS (
      SELECT doc_id,
             unnest(ln) AS line,
             unnest(range(1, len(ln) + 1)) AS pos
      FROM d
    ), freq AS (
      SELECT line FROM (
        SELECT line, COUNT(DISTINCT doc_id) AS nd FROM ex GROUP BY line
      ) WHERE nd >= 2
    ), kept AS (
      SELECT doc_id, pos, line FROM ex
      WHERE line NOT IN (SELECT line FROM freq)
    ), agg AS (
      SELECT doc_id,
             array_to_string(list(line ORDER BY pos), chr(10)) AS text_clean,
             CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(agg.text_clean, '') AS text_clean,
           CAST(len(d.ln) AS BIGINT) AS n_lines,
           coalesce(agg.n_kept, CAST(0 AS BIGINT)) AS n_kept
    FROM d LEFT JOIN agg USING (doc_id)
    ORDER BY doc_id
    """,
    note=(
        "Corpus-level frequent-line removal (CCNet/RefinedWeb "
        "boilerplate pass): drop lines occurring in >=2 distinct "
        "documents, keep survivors in order, keep fully-boilerplate "
        "docs as empty text. One distinct+count exchange at line "
        "cardinality, broadcast anti-join removal, per-doc "
        "reassembly. Line breaks derived via replace(' the ', \\n) "
        "as in llm_line_dedup (corpus has no newlines)."
    ),
)
def llm_corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.curate import corpus_line_dedup

    d = load_table(spark, sf_dir, "documents")
    lined = d.select(
        "doc_id", F.regexp_replace("text", " the ", "\n").alias("text")
    )
    return presorted(corpus_line_dedup(lined, min_docs=2), "doc_id")


@_register(
    "llm_vocab_coverage",
    ["text-analysis", "curation"],
    """
    WITH t AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), c AS (
      SELECT token, COUNT(*) AS n_occ FROM t GROUP BY token
    ), r AS (
      SELECT CAST(row_number() OVER (ORDER BY n_occ DESC, token ASC)
                  AS BIGINT) AS rank,
             token, n_occ,
             CAST(SUM(n_occ) OVER (ORDER BY n_occ DESC, token ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_occ
      FROM c
    ), tot AS (SELECT CAST(SUM(n_occ) AS BIGINT) AS total FROM c)
    SELECT rank, token, n_occ, cum_occ
    FROM r, tot
    WHERE (cum_occ - n_occ) * 1000000 < 950000 * total
    ORDER BY rank
    """,
    note=(
        "Sentencepiece-style vocabulary trim: smallest token prefix "
        "(by count DESC, token ASC) covering 95% of occurrences. One "
        "exchange at vocabulary cardinality + one single-partition "
        "window (a vocabulary is small by definition); the coverage "
        "cut is cross-multiplied integer math — no float division "
        "reaches the compare."
    ),
)
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.curate import vocab_coverage

    d = load_table(spark, sf_dir, "documents")
    return vocab_coverage(d, coverage=0.95).orderBy("rank")


_URL_NORM_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "regexp_replace(lower({x}), '^https?://', '', 'g'), "
    "'^www\\.', '', 'g'), '#.*$', '', 'g'), '\\?.*$', '', 'g'), "
    "'/$', '', 'g')"
)


@_register(
    "llm_url_cap",
    ["curation", "url"],
    f"""
    WITH u AS (
      SELECT doc_id,
             concat(CASE WHEN doc_id % 2 = 0 THEN 'https://'
                         ELSE 'HTTP://WWW.' END,
                    'Site', CAST((doc_id // 2) % 23 AS VARCHAR),
                    '.COM/Page/', CAST(doc_id // 2 AS VARCHAR),
                    CASE WHEN doc_id % 2 = 1 THEN '?ref=dup#x'
                         ELSE '' END) AS url
      FROM documents
    ), n AS (
      SELECT doc_id, {_URL_NORM_SQL.format(x='url')} AS nu FROM u
    ), keep AS (
      SELECT MIN(doc_id) AS doc_id FROM n GROUP BY nu
    ), s AS (
      SELECT n.doc_id, nu FROM n JOIN keep USING (doc_id)
    ), h AS (
      SELECT doc_id, regexp_extract(nu, '^([^/]+)', 1) AS host FROM s
    ), dd AS (
      SELECT doc_id,
             CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1) <> ''
                  THEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
                  ELSE host END AS domain
      FROM h
    )
    SELECT doc_id, domain FROM dd
    QUALIFY row_number() OVER (PARTITION BY domain ORDER BY doc_id) <= 5
    ORDER BY domain, doc_id
    """,
    note=(
        "URL tier (C4/RefinedWeb-style, llm/urls.py): canonicalize "
        "injected crawl URLs (case, scheme, www, query, fragment, "
        "trailing slash), collapse re-crawls of the same page to the "
        "lowest id (every odd doc duplicates its even neighbor's page "
        "under a differently-cased URL), then cap each registered "
        "domain at 5 documents. String exprs + one groupBy + one "
        "per-domain window — mass removal BEFORE the expensive "
        "content-dedup stages; the domain window partitions on "
        "millions of small keys at scale."
    ),
)
def llm_url_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.urls import cap_per_domain, url_dedup

    d = load_table(spark, sf_dir, "documents")
    half = F.floor(F.col("doc_id") / 2).cast("bigint")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://")).otherwise(
            F.lit("HTTP://WWW.")
        ),
        F.lit("Site"),
        (half % 23).cast("string"),
        F.lit(".COM/Page/"),
        half.cast("string"),
        F.when(F.col("doc_id") % 2 == 1, F.lit("?ref=dup#x")).otherwise(
            F.lit("")
        ),
    )
    withu = d.withColumn("url", url)
    return (
        cap_per_domain(url_dedup(withu), 5)
        .select("doc_id", "domain")
        .orderBy("domain", "doc_id")
    )


@_register(
    "llm_budget_select",
    ["curation", "selection"],
    f"""
    WITH wt AS (
      SELECT CAST(u.i AS BIGINT) AS bucket,
             CAST(({_INT60_SQL.format(x="concat('w:', CAST(u.i AS VARCHAR))")})
                  % 2001 - 1000 AS DOUBLE) AS w
      FROM range(512) u(i)
    ), toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), b AS (
      SELECT doc_id, ({_INT60_SQL.format(x="tok")}) % 512 AS bucket FROM toks
    ), per AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             COALESCE(SUM(w), 0.0) AS w_sum
      FROM b LEFT JOIN wt USING (bucket) GROUP BY doc_id
    ), c AS (
      SELECT doc_id, n_tokens, w_sum,
             CAST(SUM(n_tokens) OVER (ORDER BY w_sum DESC, doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tokens
      FROM per)
    SELECT doc_id, n_tokens, w_sum, cum_tokens
    FROM c WHERE cum_tokens <= 8000 ORDER BY cum_tokens
    """,
    note=(
        "Token-budget corpus selection: greedy (weight desc, id asc) "
        "prefix whose cumulative token count fits an 8000-token "
        "budget, weighted by the hashed classifier's exact integer "
        "w_sum. The global cumulative sum runs as the two-level "
        "prefix-sum shape keyed on the SORT ORDER (descending weight-"
        "range buckets + an n_buckets-row offset table broadcast "
        "back) — never a single-partition global window; the oracle's "
        "plain windowed SUM proves the decomposition exact."
    ),
)
def llm_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.budget import select_within_budget
    from temp_data_pipeline_spark.llm.classifier import (
        classifier_score,
        hashed_weights,
    )

    d = load_table(spark, sf_dir, "documents")
    scored = classifier_score(d, hashed_weights(spark, 512), dim=512).select(
        "doc_id", "n_tokens", "w_sum"
    )
    return select_within_budget(
        scored, 8000, weight_col="w_sum", token_col="n_tokens"
    ).orderBy("cum_tokens")


@_register(
    "llm_dsir",
    ["curation", "selection"],
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_concat(t,
               list_transform(range(1, len(t)),
                              i -> concat(t[i], ' ', t[i+1])))) AS g
      FROM toks
    ),
    bk AS (
      SELECT doc_id,
             CAST({_INT60_SQL.format(x="concat('d:', g)")} % 256 AS BIGINT)
               AS bucket
      FROM grams
    ),
    rb AS (
      SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM bk WHERE doc_id % 7 <> 0 GROUP BY doc_id, bucket
    ),
    tb AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct
      FROM bk WHERE doc_id % 7 = 0 GROUP BY bucket
    ),
    rt AS (
      SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cr FROM rb GROUP BY bucket
    ),
    tot AS (
      SELECT (SELECT COALESCE(SUM(ct), 0) FROM tb) AS tt,
             (SELECT COALESCE(SUM(cr), 0) FROM rt) AS tr
    ),
    dom AS (SELECT unnest(range(256)) AS bucket),
    ratio AS (
      SELECT dom.bucket,
             CAST(floor(ln(
               (CAST(COALESCE(ct, 0) + 1 AS DOUBLE) * CAST(tr + 256 AS DOUBLE))
               / (CAST(COALESCE(cr, 0) + 1 AS DOUBLE) * CAST(tt + 256 AS DOUBLE))
             ) * 1000000000.0 + 0.5) AS BIGINT) AS w_nano
      FROM dom LEFT JOIN tb ON dom.bucket = tb.bucket
               LEFT JOIN rt ON dom.bucket = rt.bucket, tot
    ),
    w AS (
      SELECT doc_id, CAST(SUM(cnt * w_nano) AS BIGINT) AS dsir_nano
      FROM rb JOIN ratio ON rb.bucket = ratio.bucket GROUP BY doc_id
    )
    SELECT CAST(row_number() OVER (ORDER BY dsir_nano DESC, doc_id ASC) AS INT)
               AS rank,
           doc_id, dsir_nano
    FROM w ORDER BY dsir_nano DESC, doc_id ASC LIMIT 20
    """,
    note=(
        "DSIR importance selection (Xie et al. 2023, hashed-ngram "
        "variant): unigram+bigram feature hashing into 256 buckets, "
        "Laplace-smoothed target/raw bucket models, per-document log "
        "importance ratio, top-20. Every corpus reduces to ONE "
        "bucket-space aggregate; the D-row log-ratio table broadcasts "
        "onto the sparse per-doc counts (equi-join, no dense vectors). "
        "ln is the only non-IEEE scalar — each bucket's ratio is "
        "quantized to integer nano-units before the exact BIGINT "
        "per-document sum (the llm_bm25 pattern). Target = every 7th "
        "document, raw = the rest."
    ),
)
def llm_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.dsir import dsir_topk

    d = load_table(spark, sf_dir, "documents")
    target = d.filter(F.col("doc_id") % 7 == 0)
    raw = d.filter(F.col("doc_id") % 7 != 0)
    return dsir_topk(raw, target, dim=256, k=20)


_CLUSTER_BEST_ORACLE = f"""
    WITH RECURSIVE {_SIMHASH_PAIR_CTES},
    ver AS (
        SELECT id_a, id_b FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM ver
        UNION
        SELECT id_b, id_a FROM ver
    ),
    reach(node, r) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        UNION
        SELECT e.a, r.r FROM edges e JOIN reach r ON r.node = e.b
    ),
    comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
    lab AS (
        SELECT d.doc_id, d.n_chars,
               COALESCE(comp.cluster_id, d.doc_id) AS cid
        FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
    )
    SELECT doc_id, n_chars FROM lab
    QUALIFY row_number() OVER (PARTITION BY cid
                               ORDER BY n_chars DESC, doc_id ASC) = 1
    ORDER BY doc_id
"""


@_register(
    "llm_cluster_best",
    ["dedup"],
    _CLUSTER_BEST_ORACLE,
    note=(
        "Quality-aware cluster dedup: connected components over the "
        "SimHash near-dup pairs, then keep the HIGHEST-n_chars member "
        "of each cluster (tiebreak min doc_id) instead of the min-id "
        "one — the production policy (keep the best-quality copy of "
        "each boilerplate family). Selection is one window on "
        "cluster_id on top of the CC labeling."
    ),
)
def llm_cluster_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.cluster import cluster_dedup_best

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        full = load_table(spark, sf_dir, "documents")
        pairs = simhash_neardup_pairs(full, hash_fn="md5", nbits=60)
        out = cluster_dedup_best(d, pairs, "n_chars").localCheckpoint()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# Hashed text embeddings + text-to-text kNN
# ---------------------------------------------------------------------------

_SPARSE_EMBED_SQL = f"""
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), sgn AS (
      SELECT doc_id,
             ({_INT60_SQL.format(x='tok')}) % 64 AS dim_idx,
             (({_INT60_SQL.format(x="concat('s:', tok)")}) % 2) * 2 - 1 AS sg
      FROM toks
    ), sparse AS (
      SELECT doc_id, dim_idx, CAST(SUM(sg) AS BIGINT) AS weight
      FROM sgn GROUP BY doc_id, dim_idx HAVING SUM(sg) <> 0
    )
"""


@_register(
    "llm_hash_embed",
    ["embedding", "text-analysis"],
    f"""
    WITH {_SPARSE_EMBED_SQL}
    SELECT doc_id, dim_idx, weight FROM sparse
    WHERE doc_id % 20 = 0
    ORDER BY doc_id, dim_idx
    """,
    note=(
        "Signed feature-hashing embeddings (Weinberger et al. 2009): "
        "token -> dimension md5%64 with an independent ±1 sign hash, "
        "summed to exact BIGINT weights. Sparse (id, dim_idx, weight) "
        "layout — exchanges carry only non-zeros, and the rows are "
        "already driver-canonicalizable. The conformance window "
        "checks every 20th document; the operator is unfiltered."
    ),
)
def llm_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.embed import hash_embed_sparse

    d = load_table(spark, sf_dir, "documents")
    return (
        hash_embed_sparse(d, dim=64)
        .filter(F.col("doc_id") % 20 == 0)
        .orderBy("doc_id", "dim_idx")
    )


@_register(
    "llm_text_knn",
    ["embedding", "similarity"],
    f"""
    WITH {_SPARSE_EMBED_SQL},
    n AS (
      SELECT doc_id, CAST(SUM(weight * weight) AS BIGINT) AS n2
      FROM sparse GROUP BY doc_id
    ),
    q AS (SELECT dim_idx, weight AS qw FROM sparse WHERE doc_id = 0),
    qn AS (SELECT n2 AS qn2 FROM n WHERE doc_id = 0),
    d AS (
      SELECT sparse.doc_id, CAST(SUM(sparse.weight * q.qw) AS BIGINT) AS dot
      FROM sparse JOIN q USING (dim_idx)
      WHERE sparse.doc_id <> 0 GROUP BY sparse.doc_id
    ),
    sc AS (
      SELECT d.doc_id, dot,
             CAST(dot AS DOUBLE)
               / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE)))
               AS cosine
      FROM d JOIN n ON n.doc_id = d.doc_id, qn
    )
    SELECT CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS INT)
               AS rank,
           doc_id, dot, cosine
    FROM sc ORDER BY cosine DESC, doc_id ASC LIMIT 10
    """,
    note=(
        "Text-to-text similar-document search with NO external "
        "embedding table: hashed sparse embeddings, broadcast query "
        "vector, equi-join on dim_idx (only docs sharing a non-zero "
        "dimension are scored), integer dot/norms with IEEE-exact "
        "sqrt/divide cosine — bit-identical ranking in both engines."
    ),
)
def llm_text_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.embed import text_knn

    d = load_table(spark, sf_dir, "documents")
    return text_knn(d, 0, dim=64, k=10)


@_register(
    "llm_ivf_index_topk",
    ["similarity"],
    _IVF_ORACLE,
    note=(
        "Persisted IVF index lifecycle: build (cell-partitioned "
        "parquet + atomic centroid manifest) then probe — the probe "
        "scans ONLY the nprobe=4 matching _cell= partitions via "
        "planning-time partition pruning, the at-rest serving shape "
        "(nprobe/nlist of the bytes per query at any scale). Same "
        "pinned first-16-vector quantizer as llm_ivf_topk, so the "
        "persisted path must return exactly the ad-hoc path's answer "
        "and shares its oracle."
    ),
)
@scratch_table("ivf_index_")
def llm_ivf_index_topk(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.vector_index import (
        build_ivf_index,
        ivf_index_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 16)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    ]

    build_ivf_index(e.filter(F.col("vec_id") != 0), path, centroids=cents)
    return ivf_index_topk(spark, path, qvec, k=10, nprobe=4).select("vec_id")


_ANN_RECALL_ORACLE = f"""
    WITH {_LSH_CAND_CTES},
    lsh AS (
        SELECT vec_id FROM (
            SELECT e.vec_id, {_COS_SQL} AS sim FROM cand e, q
        ) ORDER BY sim DESC, vec_id LIMIT 10
    ),
    brute AS (
        SELECT vec_id FROM (
            SELECT e.vec_id, {_COS_SQL} AS sim
            FROM embeddings e, q WHERE e.vec_id <> 0
        ) ORDER BY sim DESC, vec_id LIMIT 10
    )
    SELECT CAST((SELECT COUNT(*) FROM brute JOIN lsh USING (vec_id)) AS BIGINT)
               AS n_hit,
           CAST((SELECT COUNT(*) FROM brute) AS BIGINT) AS n_truth
"""


@_register(
    "llm_ann_recall",
    ["similarity", "eval"],
    _ANN_RECALL_ORACLE,
    note=(
        "ANN quality gate: recall@10 of the seed-42 hyperplane-LSH "
        "top-k against the exact cosine top-k, as exact integer "
        "(n_hit, n_truth). Both engines replay both searches; the "
        "evaluator itself (similarity.ann_recall) grades any ANN tier "
        "— the measurement that justifies nprobe/band/bucket-cap "
        "choices instead of assuming them."
    ),
)
def llm_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    base = e.filter(F.col("vec_id") != 0)
    truth = similarity.cosine_topk(base, qvec, k=10)
    approx = similarity.ann_lsh_topk(base, qvec, k=10)
    return similarity.ann_recall(truth, approx)


@_register(
    "llm_exact_sample",
    ["curation", "eval"],
    f"""
    SELECT doc_id, lang
    FROM documents
    QUALIFY row_number() OVER (
      ORDER BY ({_INT60_SQL.format(x="concat('eval1:', CAST(doc_id AS VARCHAR))")}) ASC,
               doc_id ASC
    ) <= 500
    ORDER BY doc_id
    """,
    note=(
        "Deterministic EXACT-k uniform sample (curate.exact_sample): "
        "the k smallest md5(seed:id) ranks — an exact-count eval/dev "
        "sample where stratified_sample's fractional filter only hits "
        "k in expectation. orderBy+limit compiles to "
        "TakeOrderedAndProject: per-partition top-k heaps + driver "
        "merge, no global sort, memory bounded by k per task — the "
        "distributed reservoir sample expressed declaratively."
    ),
)
def llm_exact_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from temp_data_pipeline_spark.llm.curate import exact_sample

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return exact_sample(d, 500, seed="eval1").orderBy("doc_id")
