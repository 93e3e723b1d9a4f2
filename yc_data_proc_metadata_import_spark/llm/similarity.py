"""Similarity search over the ``embeddings`` fixture (SURVEY.md SS2.13).

Exact brute-force top-k, threshold similarity join (blocked matmul),
embedding near-dup audit, hyperplane-LSH candidate join, and IVF ANN —
the vector half of an LLM training-data pipeline.

100 TB design map:
- llm_topk_cosine: few queries x huge corpus — BROADCAST the queries,
  scan the corpus once, per-query top-k window. Scan-bound.
- llm_sim_join: all-pairs threshold join — bucketed BLOCK MATMUL: bucket
  vectors (vec_id % B), join bucket pairs (upper triangle), one Arrow
  batch per block pair runs a numpy float64 GEMM. Work is O(n^2 d) no
  matter what; the matmul form runs it at BLAS speed with O(n d / B)
  memory per task, and B scales with the cluster.
- llm_dedup_embedding: near-dup-rate AUDIT on a deterministic 2% sample
  (exact NN per sampled vector) — the estimate-before-you-spend pattern;
  running the full join is llm_sim_join's job.
- llm_sim_join_lsh: sign-random-projection LSH — linear-shuffle candidate
  generation when even blocked matmul is too much; verify stage is exact.
- llm_ann_ivf: IVF over a TRAINED codebook — centroids come from
  llm_kmeans_cluster's Lloyd iterations (one update step over the final
  assignment), every vector is assigned to its 2 nearest centroids
  (driver-literal codebook, map-only), queries probe the 3 nearest
  lists. The classic recall/cost dial at billion-vector scale.

Determinism: expression-path dot products fold left-to-right in double —
bit-identical to the DuckDB oracle's list_reduce (verified). The matmul
path rounds cosine to 6 decimals before comparison/output: numpy's
pairwise-summed GEMM differs from sequential folding by ~1 ulp, far below
the rounding quantum and the 0.4 threshold margin (nearest pair is ~1e-3
from the threshold at every sf).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..sources.io import load

# Queries for top-k keys; bucket count for the block join; thresholds.
_N_QUERIES = 10
_TOP_K = 5
# Block-join bucket count: each vector is shipped to B/2 block pairs, so
# smaller B = less replication; B need only exceed cluster parallelism /
# keep blocks executor-memory-sized. 8 buckets => 36 block tasks at this
# scale (measured 3x faster than 32 buckets: Arrow list-of-list transfer
# dominates, and it scales with n*B).
_BUCKETS = 8
_SIM_T = 0.4
_NEAR_DUP_T = 0.95
_SAMPLE_MOD = 50  # llm_dedup_embedding audits vec_id % 50 == 0 (2%)

import os as _os

# IVF probe width and k-means list count are corpus-size parameters in
# any production IVF (K ~ sqrt(n) is the standard rule); the registry
# defaults (3 probes, K=8 in _KM_K below) are pinned so the driver's
# static oracle SQL replays them bit-exactly at sf0.01. The env
# overrides exist for the scale rungs (tools/sf1_rung.py sf10 preset
# runs K~sqrt(200k)=448, nprobe scaled), which adjudicate recall vs the
# exact top-k rather than oracle equality — the oracle strings are
# built at import from the SAME constants, so a process that sets the
# env gets a consistent engine+oracle pair either way.
_IVF_NPROBE = int(_os.environ.get("SPARK_GRAFT_IVF_NPROBE", "3"))
# Lists each CORPUS vector is replicated into (multi-assignment): 2
# trades 2x index storage for recall that nprobe alone cannot buy when
# the loss is assignment-stage — the query's true neighbor was assigned
# to a list the probe ranking never reaches (measured: the hard-mode
# 0.98 plateau at one list per vector; recall 1.0 at 2 lists and
# nprobe=1, IVF_HARD_SWEEP.json). The oracle replays the top-2
# assignment bit-exactly (_ivf_oracle_sql interpolates
# ``rn <= _IVF_NASSIGN`` + DISTINCT hits).
_IVF_NASSIGN = 2


def _dot(a, b) -> F.Column:
    """Sequential left-to-right double dot product (oracle-bit-identical)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, emb array<double>, norm) — cast + norm computed ONCE per
    row before any join so per-pair work is a single dot product.

    Repartitioned to session parallelism: the single-file fixture scans
    as one partition, which would serialize every downstream per-pair
    stage (broadcast nested-loop joins inherit the stream side's
    partitioning). On a multi-file corpus this shuffle is noise.
    """
    n = spark.sparkContext.defaultParallelism
    e = (
        load(spark, sf_dir, "embeddings")
        .repartition(n, "vec_id")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    return e.withColumn("norm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))


# SQL twins (DuckDB): list_reduce with a prepended implicit first element
# folds in the same order as Spark's aggregate-with-0.0-init because
# 0.0 + x == x exactly.
_DOT_SQL = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (acc, x) -> acc + x)"
)
_NORM_SQL = (
    "sqrt(list_reduce(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "(acc, x) -> acc + x))"
)
_VECS_SQL = (
    "SELECT vec_id, embedding AS emb, "
    + _NORM_SQL.format(a="embedding")
    + " AS norm FROM embeddings"
)


@query(
    "llm_topk_cosine",
    oracle=f"""
    WITH v AS ({_VECS_SQL}),
         pairs AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_DOT_SQL.format(a="q.emb", b="c.emb")} / (q.norm * c.norm) AS cosine
            FROM v q JOIN v c ON q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id),
         ranked AS (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM pairs)
    SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, cosine
    FROM ranked WHERE rnk <= {_TOP_K}
    """,
)
def llm_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k for the first 10 vectors.

    The query side is {_N_QUERIES} rows — broadcast — so the corpus is
    scanned exactly once with no shuffle before the per-query top-k
    window (whose input is already partitioned by query). BASELINE.md T3.
    """
    v = _vecs(spark, sf_dir)
    q = v.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"), F.col("norm").alias("qnorm")
    )
    cos = _dot(F.col("qemb"), F.col("emb")) / (F.col("qnorm") * F.col("norm"))
    pairs = (
        v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "neighbor_id", "rnk", "cosine")
    )


def _block_pairs_iter(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One numpy GEMM per (bucket_a, bucket_b) row; emits qualifying pairs.

    Arrow hands each block pair as ~1-row batches with the two buckets'
    ids and a FLAT float64 vector buffer (flattened JVM-side): a single
    frombuffer+reshape per block instead of a Python list-of-lists per
    vector — the nested-list conversion was the dominant cost of the
    whole key (the GEMM itself is milliseconds at these sizes). float64
    matmul + threshold mask replaces per-pair expression evaluation
    (~100x fewer JVM<->Python crossings than a scalar UDF, BLAS
    throughput on the inner loop).
    """
    import numpy as np

    for pdf in it:
        out_a, out_b, out_c = [], [], []
        for row in pdf.itertuples(index=False):
            ida = np.asarray(row.ids_a, dtype=np.int64)
            idb = np.asarray(row.ids_b, dtype=np.int64)
            va = np.asarray(row.flat_a, dtype=np.float64).reshape(len(ida), -1)
            vb = np.asarray(row.flat_b, dtype=np.float64).reshape(len(idb), -1)
            cos = (va @ vb.T) / np.outer(
                np.linalg.norm(va, axis=1), np.linalg.norm(vb, axis=1)
            )
            ia, ib = np.nonzero(cos >= _SIM_T)
            lo, hi = np.minimum(ida[ia], idb[ib]), np.maximum(ida[ia], idb[ib])
            # Diagonal block: both orderings of each pair appear — keep the
            # a<b one.  Off-diagonal: each pair appears once, in arbitrary
            # id order — keep all, normalized to (min, max).
            keep = (ida[ia] < idb[ib]) if row.bkt_a == row.bkt_b else (lo < hi)
            out_a.append(lo[keep])
            out_b.append(hi[keep])
            out_c.append(cos[ia, ib][keep])
        yield pd.DataFrame(
            {
                "doc_a": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
                "doc_b": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
                "cosine_raw": np.concatenate(out_c) if out_c else np.array([], dtype=np.float64),
            }
        )


@query(
    "llm_sim_join",
    oracle=f"""
    WITH v AS ({_VECS_SQL})
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
           round({_DOT_SQL.format(a="a.emb", b="b.emb")} / (a.norm * b.norm), 6) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE {_DOT_SQL.format(a="a.emb", b="b.emb")} / (a.norm * b.norm) >= {_SIM_T}
    """,
)
def llm_sim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine threshold join as a bucketed block matmul.

    Vectors are hashed into {_BUCKETS} buckets (vec_id % B); the upper
    triangle of bucket pairs fans out as independent tasks, each running
    one float64 GEMM over two in-memory blocks. At 100 TB, B grows so a
    block stays ~executor-memory-sized; the shuffle moves each vector B/2
    times — linear in corpus size, vs the quadratic row-generation of a
    naive nested-loop join. Cosine is rounded to 6 dp (see module doc).
    """
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        (F.col("vec_id") % _BUCKETS).alias("bkt"),
    )
    # ONE collect_list of (id, emb) structs per bucket keeps ids and
    # vectors aligned by construction; the vectors ship to Python as one
    # flat buffer per block (see _block_pairs_iter).
    packed = v.groupBy("bkt").agg(
        F.collect_list(F.struct("vec_id", "emb")).alias("rows")
    )
    bucketed = packed.select(
        "bkt",
        F.expr("transform(rows, r -> r.vec_id)").alias("ids"),
        F.flatten(F.expr("transform(rows, r -> r.emb)")).alias("flat"),
    )
    a = bucketed.select(
        F.col("bkt").alias("bkt_a"), F.col("ids").alias("ids_a"), F.col("flat").alias("flat_a")
    )
    b = bucketed.select(
        F.col("bkt").alias("bkt_b"), F.col("ids").alias("ids_b"), F.col("flat").alias("flat_b")
    )
    blocks = a.join(b, F.col("bkt_a") <= F.col("bkt_b")).repartition(
        _BUCKETS, "bkt_a", "bkt_b"
    )
    pairs = blocks.mapInPandas(
        _block_pairs_iter, "doc_a long, doc_b long, cosine_raw double"
    )
    return pairs.select("doc_a", "doc_b", F.round("cosine_raw", 6).alias("cosine"))


@query(
    "llm_dedup_embedding",
    oracle=f"""
    WITH v AS ({_VECS_SQL}),
         pairs AS (
            SELECT s.vec_id AS probe_id, c.vec_id AS neighbor_id,
                   {_DOT_SQL.format(a="s.emb", b="c.emb")} / (s.norm * c.norm) AS cosine
            FROM v s JOIN v c ON s.vec_id % {_SAMPLE_MOD} = 0 AND c.vec_id <> s.vec_id),
         ranked AS (
            SELECT probe_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM pairs)
    SELECT probe_id, neighbor_id, cosine, cosine >= {_NEAR_DUP_T} AS is_near_dup
    FROM ranked WHERE rnk = 1
    """,
)
def llm_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup AUDIT: exact nearest neighbor for a
    deterministic 2% sample, flagged against the 0.95 near-dup bar.

    The estimate-before-you-spend pattern: the sampled NN distribution
    bounds the corpus duplicate rate before committing to the full
    llm_sim_join. Probe side is 2% of rows — broadcast; corpus scanned
    once; exact within the sample.
    """
    v = _vecs(spark, sf_dir)
    s = v.filter(F.col("vec_id") % _SAMPLE_MOD == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("semb"), F.col("norm").alias("snorm")
    )
    cos = _dot(F.col("semb"), F.col("emb")) / (F.col("snorm") * F.col("norm"))
    pairs = v.join(F.broadcast(s), F.col("vec_id") != F.col("probe_id")).select(
        "probe_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "probe_id",
            "neighbor_id",
            "cosine",
            (F.col("cosine") >= _NEAR_DUP_T).alias("is_near_dup"),
        )
    )


# Sign-random-projection signature: T tables x B bits; hyperplane (t, j)
# has +-1 components chosen by xxhash64(d, j, t) parity. Nested HOFs keep
# it in codegen — no UDF, fully deterministic.  B=6/T=12 is tuned for the
# fixture's hard regime (threshold 0.4 ~ 66 degrees): ~54% candidate
# recall per true pair vs ~1/64-per-table collision for random pairs; at a
# realistic near-dup bar (cos>=0.9) the same config recalls >99.9%.
_SRP_BITS = 6
_SRP_TABLES = 12


# Hyperplane sign for (dimension d, bit j, table t): the top bit of a
# Knuth multiplicative hash over the packed index. Exact BIGINT
# arithmetic (max intermediate ~2^50, no overflow) that DuckDB evaluates
# identically — which is what makes the whole SRP pipeline oracle-able;
# xxhash64 would be marginally better-mixed but has no SQL twin.
#
# The signs depend only on CONSTANT indices, so the Spark side bakes
# them into literal ±1.0 arrays at plan-build time (the oracle replays
# the arithmetic formula itself — same values): the interpreted inner
# loop is then one multiply-add per element (x * ±1.0 == ±x bit-exactly
# in IEEE, matching the oracle's CASE ... emb[d] ELSE -emb[d] fold) —
# measured 3.5x faster than evaluating the hash per (d, j) eval.
_SRP_DIM = 64  # embeddings fixture dimension (FIXTURES.md)


def _srp_sign(d: int, j: int, t: int) -> int:
    return 1 if ((d * 4096 + j * 64 + t) * 2654435761) % 4294967296 < 2147483648 else -1


def _srp_sig(t: int) -> str:
    bits = []
    for j in range(_SRP_BITS):
        arr = ", ".join(
            f"{_srp_sign(d, j, t)}.0D" for d in range(1, _SRP_DIM + 1)
        )
        # element_at over the constant sign array keeps size(emb)
        # dynamic (no zip_with null-padding if a vector is short) and
        # costs one lookup + multiply per element.
        dot = (
            "aggregate(sequence(1, size(emb)), cast(0.0 as double), "
            f"(s, d) -> s + element_at(emb, d) * element_at(array({arr}), d))"
        )
        bits.append(
            f"if({dot} > cast(0.0 as double), cast(1 as bigint), cast(0 as bigint))"
        )
    expr = bits[0]
    for b in bits[1:]:
        expr = f"({expr} * 2 + {b})"
    return expr


_SRP_SIG_CACHE: dict[tuple[str, str], DataFrame] = {}


def _srp_sigs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (vec_id, table_id, sig) SRP index — ~24 bytes/row —
    materialized once per (session, scale) so the candidate self-join's
    two sides (and repeat invocations) reuse one signature pass instead
    of recomputing 12x6 dot products per side; embeddings are joined
    back only for the verify stage (the candidate shuffle never carries
    vectors). Same "build the index, then join the index" split as
    llm_dedup_ngram's hashed_index_cached."""
    from ..utils import session_cached

    def build() -> DataFrame:
        v = _vecs(spark, sf_dir)
        return (
            v.select(
                "vec_id",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(t).alias("table_id"),
                                F.expr(_srp_sig(t)).alias("sig"),
                            )
                            for t in range(_SRP_TABLES)
                        ]
                    )
                ).alias("s"),
            )
            .select("vec_id", "s.table_id", "s.sig")
            .localCheckpoint(eager=True)
        )

    return session_cached(_SRP_SIG_CACHE, spark, sf_dir, build)


@query(
    "llm_sim_join_lsh",
    oracle=f"""
    WITH v AS ({_VECS_SQL}),
    sigs AS (
        SELECT vec_id, emb, norm, t.table_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(0, {_SRP_BITS}), j ->
                           CASE WHEN list_reduce(
                                    list_prepend(CAST(0.0 AS DOUBLE),
                                        list_transform(range(1, len(emb) + 1), d ->
                                            CASE WHEN ((d * 4096 + j * 64 + t.table_id)
                                                       * 2654435761) % 4294967296
                                                      < 2147483648
                                                 THEN CAST(emb[d] AS DOUBLE)
                                                 ELSE -CAST(emb[d] AS DOUBLE) END)),
                                    (s, x) -> s + x) > 0.0
                                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
                   (acc, b) -> acc * 2 + b) AS sig
        FROM v, (SELECT unnest(range(0, {_SRP_TABLES})) AS table_id) t),
    cand AS (
        SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        FROM sigs x JOIN sigs y
          ON x.table_id = y.table_id AND x.sig = y.sig
         AND x.vec_id < y.vec_id)
    SELECT c.a AS doc_a, c.b AS doc_b,
           {_DOT_SQL.format(a="x.emb", b="y.emb")} / (x.norm * y.norm) AS cosine
    FROM cand c JOIN v x ON x.vec_id = c.a JOIN v y ON y.vec_id = c.b
    WHERE {_DOT_SQL.format(a="x.emb", b="y.emb")} / (x.norm * y.norm) >= {_SIM_T}
    """,
    # Oracle shape note (round-18, sf1-rung cost): candidates DISTINCT
    # FIRST, then ONE exact-cosine verify per candidate pair against v.
    # The previous shape verified inside the signature self-join, so
    # DuckDB evaluated the 64-dim list_reduce dot per TABLE HIT and per
    # CLAUSE (SELECT + WHERE) before the DISTINCT — 59.3M candidates at
    # sf1 cost 381 s; this shape is 35 s with the identical result set
    # (cosine is pair-deterministic, so DISTINCT-then-verify == verify-
    # then-DISTINCT).
)
def llm_sim_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH similarity join (candidates then exact
    verify at cos >= 0.4).

    The linear-shuffle alternative to llm_sim_join when even blocked
    matmul is too expensive: 12 tables x 6-bit signatures, candidates
    share a full signature in any table, verify stage recomputes exact
    cosine so precision is 1.0 and only recall is approximate. All
    signature math is nested codegen expressions — no Python until
    nothing is left to prune.

    Hash-checked: the hyperplane signs come from an exact-integer
    multiplicative hash (see _SRP_SIGN) rather than xxhash64, so the
    oracle replays the identical signature computation in SQL — the
    driver verifies candidate generation AND verify stage bit-exactly.
    """
    v = _vecs(spark, sf_dir)
    sigs = _srp_sigs_cached(spark, sf_dir)

    cand = (
        sigs.alias("x")
        .join(
            sigs.alias("y"),
            (F.col("x.table_id") == F.col("y.table_id"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("doc_a"),
            F.col("y.vec_id").alias("doc_b"),
        )
        .distinct()
    )
    a = v.select(F.col("vec_id").alias("doc_a"), F.col("emb").alias("emb_a"), F.col("norm").alias("norm_a"))
    b = v.select(F.col("vec_id").alias("doc_b"), F.col("emb").alias("emb_b"), F.col("norm").alias("norm_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (_dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= _SIM_T)
    )


@query(
    "llm_embedding_normalize",
    oracle=f"""
    WITH v AS ({_VECS_SQL})
    SELECT vec_id,
           CAST(unnest(range(0, len(emb))) AS INTEGER) AS pos,
           unnest(list_transform(emb, x -> CAST(x AS DOUBLE) / norm)) AS u
    FROM v
    """,
)
def llm_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize the embedding column (map-only) — the prep step every
    cosine-similarity pipeline runs once so downstream scoring is a plain
    dot product. Division by the shared exact-fold norm is one IEEE op
    per element, bit-identical across engines.

    Result surface is (vec_id, pos, u) — the unit vector posexploded to
    one row per element: Spark's Arrow list child is named "element",
    DuckDB's "l", so a raw list column risks a typed-hash mismatch at
    adjudication even with identical values (DuckDB zips parallel
    unnests positionally, mirroring posexplode exactly)."""
    v = _vecs(spark, sf_dir)
    return v.select(
        "vec_id",
        F.posexplode(
            F.transform(F.col("emb"), lambda x: x / F.col("norm"))
        ).alias("pos", "u"),
    )


# MaxSim (late interaction): group consecutive vectors into multi-vector
# "documents" of _MV tokens; score(q, c) = sum over q's token-vectors of
# the max cosine against any of c's token-vectors.
_MV = 8
_MV_QUERIES = 5  # first 5 multi-vector docs act as queries


@query(
    "llm_maxsim_topk",
    oracle=f"""
    WITH v AS ({_VECS_SQL}),
    tok AS (SELECT vec_id // {_MV} AS doc, vec_id, emb, norm FROM v),
    q AS (SELECT * FROM tok WHERE doc < {_MV_QUERIES}),
    best AS (
        SELECT q.doc AS qdoc, c.doc AS cdoc, q.vec_id AS qvec,
               MAX(CAST(FLOOR({_DOT_SQL.format(a="q.emb", b="c.emb")}
                              / (q.norm * c.norm) * 1000000000.0 + 0.5)
                        AS BIGINT)) AS best_nano
        FROM q JOIN tok c ON c.doc <> q.doc
        GROUP BY 1, 2, 3),
    scored AS (
        SELECT qdoc, cdoc,
               CAST(SUM(best_nano) AS DOUBLE) / 1000000000.0 AS maxsim
        FROM best GROUP BY qdoc, cdoc),
    ranked AS (
        SELECT qdoc, cdoc, maxsim,
               ROW_NUMBER() OVER (PARTITION BY qdoc
                                  ORDER BY maxsim DESC, cdoc ASC) AS rnk
        FROM scored)
    SELECT CAST(qdoc AS BIGINT) AS qdoc, CAST(cdoc AS BIGINT) AS cdoc,
           CAST(rnk AS INTEGER) AS rnk, maxsim
    FROM ranked WHERE rnk <= 3
    """,
)
def llm_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-INTERACTION retrieval (ColBERT-style MaxSim): every document
    is a BAG of token vectors ({_MV} consecutive embedding rows); the
    query-document score sums, over the query's token vectors, the best
    cosine any document token achieves. Top-3 documents per query.

    Scale shape: queries broadcast (few x {_MV} vectors), the corpus
    scans once; per (query-token, doc) the max folds BEFORE the
    per-document sum, so the shuffle carries one row per (qdoc, cdoc,
    qvec) — never the full token-pair cross product. Determinism: each
    max-cosine is snapped to an exact integer nanounit (floor(x*1e9+.5))
    so the 8-term sum is integer-exact in any order.
    """
    v = _vecs(spark, sf_dir).withColumn("doc", (F.col("vec_id") / _MV).cast("long"))
    q = v.filter(F.col("doc") < _MV_QUERIES).select(
        F.col("doc").alias("qdoc"),
        F.col("vec_id").alias("qvec"),
        F.col("emb").alias("qemb"),
        F.col("norm").alias("qnorm"),
    )
    cos = _dot(F.col("qemb"), F.col("emb")) / (F.col("qnorm") * F.col("norm"))
    nano = F.floor(cos * 1000000000.0 + F.lit(0.5)).cast("long")
    best = (
        v.join(F.broadcast(q), F.col("doc") != F.col("qdoc"))
        .groupBy("qdoc", F.col("doc").alias("cdoc"), "qvec")
        .agg(F.max(nano).alias("best_nano"))
    )
    scored = best.groupBy("qdoc", "cdoc").agg(
        (F.sum("best_nano").cast("double") / 1000000000.0).alias("maxsim")
    )
    w = Window.partitionBy("qdoc").orderBy(F.desc("maxsim"), F.asc("cdoc"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("qdoc", "cdoc", F.col("rnk").cast("int").alias("rnk"), "maxsim")
    )


@query(
    "llm_embedding_quantize",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding AS emb FROM embeddings),
    s AS (
        SELECT vec_id, emb,
               list_max(list_transform(emb, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
        FROM v),
    qz AS (
        SELECT vec_id, emb, max_abs, 127.0 / max_abs AS scale,
               list_transform(emb,
                   x -> FLOOR(CAST(x AS DOUBLE) * (127.0 / max_abs) + 0.5)) AS qi
        FROM s)
    SELECT vec_id,
           CAST(len(emb) AS INTEGER) AS n_dims,
           max_abs,
           CAST(len(list_filter(qi, q -> abs(q) >= 127.0)) AS BIGINT) AS n_saturated,
           list_reduce(
               list_transform(list_zip(qi, emb),
                   p -> (CAST(p[1] AS DOUBLE) / (127.0 / max_abs)
                         - CAST(p[2] AS DOUBLE))
                        * (CAST(p[1] AS DOUBLE) / (127.0 / max_abs)
                           - CAST(p[2] AS DOUBLE))),
               (acc, x) -> acc + x) / len(emb) AS mse
    FROM qz
    """,
)
def llm_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 symmetric quantization audit: per-vector scale = 127/max|x|,
    elements snapped with the deterministic floor(x*scale + 0.5) (numpy
    round() is half-even, SQL round() half-away — floor+0.5 is identical
    everywhere), then the dequantization error is measured as exact-fold
    MSE. This is the 4x-memory-cut preflight a billion-vector store runs
    before committing to int8 — saturation counts flag vectors whose
    outliers need asymmetric or per-block scales.

    Map-only higher-order functions, zero shuffle, no UDF; every float
    op is either exact (abs/max/floor) or a left-to-right fold shared
    bit-for-bit with the DuckDB oracle.
    """
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    max_abs = F.array_max(F.transform(F.col("emb"), lambda x: F.abs(x)))
    s = v.withColumn("max_abs", max_abs).withColumn(
        "scale", F.lit(127.0) / F.col("max_abs")
    )
    qi = F.transform(
        F.col("emb"), lambda x: F.floor(x * F.col("scale") + F.lit(0.5))
    )
    qz = s.withColumn("qi", qi)
    err2 = F.zip_with(
        F.col("qi"),
        F.col("emb"),
        lambda q, x: (q.cast("double") / F.col("scale") - x)
        * (q.cast("double") / F.col("scale") - x),
    )
    mse = (
        F.aggregate(err2, F.lit(0.0), lambda acc, e: acc + e)
        / F.size("emb").cast("double")
    )
    n_sat = F.size(F.filter(F.col("qi"), lambda q: F.abs(q) >= 127.0)).cast("long")
    return qz.select(
        "vec_id",
        F.size("emb").alias("n_dims"),
        "max_abs",
        n_sat.alias("n_saturated"),
        mse.alias("mse"),
    )


# --- k-means semantic clustering (SemDeDup-style) ------------------------
_KM_K = int(_os.environ.get("SPARK_GRAFT_KM_K", "8"))
_KM_ITERS = 3
# Codebooks up to this K ship as a driver-held literal expression (the
# measured-fastest shape at K=8: no join, no shuffle); above it the
# literal's K*d expression nodes would blow Catalyst/codegen, so the
# codebook becomes a broadcast-joined K-row DataFrame — identical cost
# arithmetic, map-side-combined argmin (the docstrings' documented
# "huge K" path, now real and measured at K=448/200k vectors).
_KM_LITERAL_MAX = 64
_KM_Q = 1000  # micro-unit quantization: every sum below stays exact int64

# Exactness contract (why this hash-checks at all): embeddings are
# quantized to integer micro-units, centroids are carried as EXACT
# integer (sum-vector, count) pairs, and the squared distance to
# centroid S/n is compared via
#     CAST(x2 AS DOUBLE) - (2*xs)/n + CAST(s2 AS DOUBLE)/(n*n)
# where x2=<x,x>, xs=<x,S>, s2=<S,S> are exact int64 (< 2^53). Each
# division is one correctly-rounded IEEE op on exactly-representable
# integers, and the three-term sum associates left-to-right in BOTH
# engines -- bit-identical costs, so argmin (ties broken by smallest
# cluster id) is identical.


def _km_dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), s -> s[1] * s[2]), "
        "(acc, x) -> acc + x)"
    )


def _km_oracle() -> list:
    q_cte = (
        "q AS (SELECT vec_id, list_transform(embedding, "
        f"x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_Q} + 0.5) AS BIGINT)) AS qv "
        "FROM embeddings)"
    )
    c0 = (
        f"c0 AS (SELECT vec_id AS j, qv AS s, CAST(1 AS BIGINT) AS n "
        f"FROM q WHERE vec_id < {_KM_K})"
    )
    ctes = [q_cte, c0]
    for t in range(_KM_ITERS):
        cost = (
            f"CAST({_km_dot_sql('q.qv', 'q.qv')} AS DOUBLE) "
            f"- (2 * {_km_dot_sql('q.qv', 'c.s')}) / c.n "
            f"+ CAST({_km_dot_sql('c.s', 'c.s')} AS DOUBLE) / (c.n * c.n)"
        )
        ctes.append(
            f"a{t + 1} AS (SELECT vec_id, j AS cluster FROM ("
            f"SELECT q.vec_id, c.j, ROW_NUMBER() OVER "
            f"(PARTITION BY q.vec_id ORDER BY {cost}, c.j) AS rn "
            f"FROM q CROSS JOIN c{t} c) WHERE rn = 1)"
        )
        if t + 1 < _KM_ITERS:
            ctes.append(
                f"u{t + 1} AS (SELECT a.cluster, ii.i, "
                f"SUM(list_extract(qq.qv, ii.i)) AS s "
                f"FROM a{t + 1} a JOIN q qq USING (vec_id), "
                f"LATERAL (SELECT unnest(range(1, len(qq.qv) + 1)) AS i) ii "
                f"GROUP BY a.cluster, ii.i)"
            )
            ctes.append(
                f"n{t + 1} AS (SELECT cluster, COUNT(*) AS n "
                f"FROM a{t + 1} GROUP BY cluster)"
            )
            ctes.append(
                f"c{t + 1} AS (SELECT u.cluster AS j, list(u.s ORDER BY u.i) AS s, "
                f"MIN(n.n) AS n FROM u{t + 1} u JOIN n{t + 1} n "
                f"ON n.cluster = u.cluster GROUP BY u.cluster)"
            )
    return ctes


def _km_oracle_sql() -> str:
    return (
        "WITH "
        + ",\n    ".join(_km_oracle())
        + f"\n    SELECT vec_id, CAST(cluster AS INTEGER) AS cluster FROM a{_KM_ITERS}"
    )


def _km_check_contract(cents: list, max_abs_qv: int) -> None:
    """Exactness contract guards (round-5 ADVICE): the cost arithmetic is
    only bit-identical to the oracle while (a) s2 = <S,S> renders
    exactly as a double, i.e. |s2| < 2^53, and (b) the int64 row-side
    sums xs = <qv,S> and x2 = <qv,qv> cannot overflow.  On a larger
    corpus/dim these degrade SILENTLY into a one-ULP argmin divergence
    at cost ties — fail loudly instead.  Shared by the literal and
    broadcast-join codebook paths (identical arithmetic, same bounds)."""
    for j, s_vec, n in cents:
        s2_int = sum(int(v) * int(v) for v in s_vec)
        if abs(s2_int) >= 2**53:
            raise AssertionError(
                f"k-means exactness contract violated: centroid {j} has "
                f"s2={s2_int} >= 2^53; F.lit(float(s2)) would round and "
                f"the engine/oracle argmin can diverge at cost ties. "
                f"Reduce _KM_Q or split the corpus."
            )
        max_s = max((abs(int(v)) for v in s_vec), default=0)
        d = len(s_vec)
        if d * max_s * max(max_abs_qv, 1) >= 2**63:
            raise AssertionError(
                f"k-means exactness contract violated: centroid {j} xs "
                f"bound d*max|s|*max|qv| = {d}*{max_s}*{max_abs_qv} "
                f">= 2^63 — int64 dot products could overflow."
            )
    if len(cents) and max_abs_qv**2 * len(cents[0][1]) >= 2**63:
        raise AssertionError(
            "k-means exactness contract violated: x2 bound "
            f"d*max|qv|^2 >= 2^63 (max|qv|={max_abs_qv})."
        )


def _km_gemm_arrays(cents: list, max_abs_qv: int):
    """Validated numpy codebook for the GEMM assignment paths: (S, N, J,
    s2_over_n2). float64-GEMM exactness needs the TIGHTER 2^53 bound
    (the literal path's int64 arithmetic survives to 2^63): every
    dot-product partial sum and every n*n must be an exactly-
    representable integer or BLAS summation order starts to matter.
    Fail loudly — same policy as _km_check_contract."""
    import numpy as np

    _km_check_contract(cents, max_abs_qv)
    d = len(cents[0][1])
    max_s = max(max((abs(int(v)) for v in s), default=0) for _, s, _ in cents)
    max_n = max(n for _, _, n in cents)
    if (
        d * max_s * max(max_abs_qv, 1) >= 2**53
        or d * max_abs_qv**2 >= 2**53
        or max_n * max_n >= 2**53
        or 2 * d * max_s * max(max_abs_qv, 1) >= 2**53
    ):
        raise AssertionError(
            "GEMM assignment exactness bound exceeded (>= 2^53): "
            f"d={d} max|s|={max_s} max|qv|={max_abs_qv} max n={max_n}"
        )
    S = np.array([s_vec for _, s_vec, _ in cents], dtype=np.float64)
    N = np.array([n for _, _, n in cents], dtype=np.float64)
    J = np.array([j for j, _, _ in cents], dtype=np.int64)
    s2_over_n2 = (S * S).sum(axis=1) / (N * N)
    return S, N, J, s2_over_n2


def _km_assigned(
    qv_df: DataFrame, spark: SparkSession, cents: list, max_abs_qv: int,
    out: str = "cluster",
) -> DataFrame:
    """(vec_id, qv, <out>) argmin-codebook assignment, dispatching on K:
    literal expression up to _KM_LITERAL_MAX lists, broadcast join
    above. The join path shuffles NOTHING quadratic: the broadcast
    nested-loop emits each row's K cost rows contiguously, so the
    groupBy's map-side partial aggregation collapses them back to one
    row per vector before any exchange."""
    if len(cents) <= _KM_LITERAL_MAX:
        return qv_df.withColumn(out, _km_assign(cents, max_abs_qv))
    # Large K: one GEMM per Arrow batch against the broadcast codebook
    # (mapInPandas — the block-matmul shape llm_sim_join already uses).
    # Measured reason: the first cut was a broadcast cross-join with the
    # same higher-order-function cost expression, and Spark evaluates
    # HOFs INTERPRETED per (row, centroid) — a 200k x 448 assignment
    # pass took ~8 minutes, and Lloyd re-runs the pass ~9x. The GEMM is
    # sub-second AND bit-identical: every product and partial sum is an
    # integer < 2^53 (guarded by _km_check_contract), so float64 BLAS
    # returns the exact integer regardless of summation order, and the
    # final x2 - (2*xs)/n + s2/(n*n) is the same left-to-right IEEE
    # sequence the literal path and the DuckDB oracle evaluate.
    # np.argmin's first-occurrence rule == ORDER BY cost, j (cents are
    # j-sorted everywhere).
    import numpy as np

    S, N, J, s2_over_n2 = _km_gemm_arrays(cents, max_abs_qv)

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["qv"]])
            x2 = (x * x).sum(axis=1)
            cost = (
                x2[:, None] - (2.0 * (x @ S.T)) / N[None, :] + s2_over_n2[None, :]
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "qv": pdf["qv"],
                    out: J[np.argmin(cost, axis=1)].astype("int32"),
                }
            )

    return qv_df.mapInPandas(assign, f"vec_id bigint, qv array<bigint>, {out} int")


def _km_multi_assigned(
    qv_df: DataFrame, spark: SparkSession, cents: list, max_abs_qv: int,
    r: int,
) -> DataFrame:
    """(vec_id, list_id) — each vector's r cheapest lists in (cost, j)
    order, the generalization shared by probe ranking (r = nprobe over
    query rows) and IVF multi-assignment (r = nassign over the corpus:
    replicating each vector into its r cheapest lists is the standard
    cure for assignment-stage recall loss, at r x index storage — see
    IVF_HARD_SWEEP.json). Literal-codebook path up to _KM_LITERAL_MAX
    lists; above that, one GEMM + lexsort per Arrow batch against the
    broadcast codebook — same exact-integer cost contract as
    _km_assigned, and (cost, then j) tie-break identical to the
    oracle's ROW_NUMBER ordering."""
    if len(cents) <= _KM_LITERAL_MAX:
        return qv_df.select(
            "vec_id",
            F.explode(
                F.slice(
                    F.array_sort(_km_cost_array(cents, max_abs_qv)), 1, r
                )
            ).alias("pc"),
        ).select("vec_id", F.col("pc.j").alias("list_id"))
    import numpy as np

    S, N, J, s2_over_n2 = _km_gemm_arrays(cents, max_abs_qv)

    def top_r(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["qv"]])
            x2 = (x * x).sum(axis=1)
            cost = (
                x2[:, None] - (2.0 * (x @ S.T)) / N[None, :] + s2_over_n2[None, :]
            )
            # argsort(kind='stable') over j-ascending columns == ORDER BY
            # cost, j (cents are j-sorted everywhere). Clamp r to the
            # list count (round-16 ADVICE): argsort yields only K
            # columns, so an unclamped r > K would repeat vec_id B*r
            # times against B*K list ids and crash — the literal path
            # already truncates silently via F.slice, and both dispatch
            # paths must behave identically.
            rr = min(r, len(J))
            order = np.argsort(cost, axis=1, kind="stable")[:, :rr]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), rr),
                    "list_id": J[order.reshape(-1)].astype("int32"),
                }
            )

    return qv_df.select("vec_id", "qv").mapInPandas(
        top_r, "vec_id bigint, list_id int"
    )


def _km_probe_lists(
    assigned: DataFrame, spark: SparkSession, cents: list, max_abs_qv: int,
    nprobe: int,
) -> DataFrame:
    """(query_id, list_id) — each query's nprobe cheapest lists
    (_km_multi_assigned over the _N_QUERIES query rows)."""
    qrows = assigned.filter(F.col("vec_id") < _N_QUERIES)
    return _km_multi_assigned(qrows, spark, cents, max_abs_qv, nprobe).select(
        F.col("vec_id").alias("query_id"), "list_id"
    )


def _km_assign(cents: list, max_abs_qv: int) -> F.Column:
    """Argmin-centroid assignment: array_min over the (cost, j) struct
    array — struct ordering = (cost, then j), mirroring the oracle's
    ROW_NUMBER ... ORDER BY cost, j."""
    return F.array_min(_km_cost_array(cents, max_abs_qv))["j"]


def _dlit(x: float) -> str:
    """Exact Spark-SQL DOUBLE literal: repr() is the shortest string
    that round-trips the IEEE value, and the D suffix lexes as DOUBLE
    (a bare decimal literal would lex as DECIMAL and re-round).
    Non-finite floats would render as invalid SQL ('infD'/'nanD') —
    currently unreachable (_km_check_contract bounds s2 < 2^53), so a
    contract change must fail HERE, not as an opaque parse error."""
    import math

    assert math.isfinite(x), f"_dlit requires a finite double, got {x!r}"
    return f"{x!r}D"


def _km_cost_array(cents: list, max_abs_qv: int, qv: str = "qv") -> F.Column:
    """(cost, j) struct array against a driver-held centroid list: ONE
    higher-order ``transform`` over an array-of-centroid-structs literal
    computes every pair — argmin assignment (``_km_assign``) and
    top-nprobe probe ranking (llm_ann_ivf: array_sort + slice) both read
    it. The single-HOF spelling keeps the expression tree K times
    smaller than unrolling one dot product per centroid (measured ~3x
    lower Catalyst/codegen latency at K=8), and the arithmetic is
    identical to the oracle's: s2/n are embedded as exact literals and
    each division is the same correctly-rounded IEEE op.

    The expression is BUILT as one SQL string parsed by a single
    F.expr call: the previous Column-API spelling issued one py4j
    round-trip per literal/lambda (K*(d+3) lits + 2K lambda
    conversions), which was pure driver-side construction cost —
    measured 1.6 s per call at K=8/d=64 and ~10 s for the 8 PQ LUT
    columns, vs milliseconds for string-build + parse. The parsed tree
    is node-for-node the same expression (CAST-typed literals, same
    left-to-right three-term cost), so results are bit-identical —
    re-proven against the DuckDB oracles after the change.

    ``qv`` is the vector expression as SQL text (default the column
    named qv; the PQ paths pass per-subspace ``slice(qv, ...)``).
    RESERVED IDENTIFIERS (r18 ADVICE): the rendered SQL binds lambda
    variables za/zb/zacc/zv/zc — a qv expression referencing those
    names would silently capture them; reject early."""
    import re

    assert isinstance(qv, str), f"qv must be SQL text, got {type(qv).__name__}"
    assert not ({"za", "zb", "zacc", "zv", "zc"} &
                set(re.findall(r"[A-Za-z_]\w*", qv))), (
        f"qv expression {qv!r} uses a reserved lambda identifier "
        f"(za/zb/zacc/zv/zc)"
    )
    _km_check_contract(cents, max_abs_qv)
    x2 = (
        f"CAST(aggregate(zip_with({qv}, {qv}, (za, zb) -> za * zb), "
        f"CAST(0 AS BIGINT), (zacc, zv) -> zacc + zv) AS DOUBLE)"
    )
    cent_structs = ", ".join(
        "named_struct('j', CAST({j} AS INT), 's', array({s}), "
        "'n', CAST({n} AS BIGINT), 's2', {s2})".format(
            j=int(j),
            s=", ".join(f"CAST({int(v)} AS BIGINT)" for v in s_vec),
            n=int(n),
            # exact: python-int square sum < 2^53 (guarded above)
            s2=_dlit(float(sum(int(v) * int(v) for v in s_vec))),
        )
        for j, s_vec, n in cents
    )
    xs = (
        f"aggregate(zip_with({qv}, zc.s, (za, zb) -> za * zb), "
        "CAST(0 AS BIGINT), (zacc, zv) -> zacc + zv)"
    )
    cost = (
        f"{x2} - (CAST(2 AS BIGINT) * {xs}) / zc.n "
        "+ zc.s2 / CAST(zc.n * zc.n AS DOUBLE)"
    )
    return F.expr(
        f"transform(array({cent_structs}), "
        f"zc -> named_struct('cost', {cost}, 'j', zc.j))"
    )


@query("llm_kmeans_cluster", oracle=_km_oracle_sql())
def llm_kmeans_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering over the embedding corpus — the grouping stage
    of SemDeDup-style semantic dedup and the centroid-training stage IVF
    (llm_ann_ivf) consumes: fixed K={k}, {iters} Lloyd iterations,
    deterministic init (centroid j = vector vec_id=j), integer-exact
    arithmetic so the full iterative algorithm is value-hash-checkable
    (see the exactness contract above).

    Scale shape per iteration: ASSIGN is map-only — the K x d centroid
    table is a driver-held literal (K*(d+1) ints, the same metadata-scale
    codebook llm_ann_ivf broadcasts), so no join, no shuffle; UPDATE is
    one posexplode + (cluster, dim) hash agg whose partial aggregation
    shrinks the shuffle to K*d rows per map task. Driver round-trips per
    iteration: one K*d-row collect — independent of corpus size. At
    100 TB with huge K (e.g. 65k IVF lists), swap the literal for a
    broadcast join on the assign side and keep the same update agg;
    empty clusters abort loudly rather than silently diverging from the
    oracle's replay.
    """
    return _km_fit(spark, sf_dir).select(
        "vec_id", F.col("cluster").cast("int").alias("cluster")
    )


llm_kmeans_cluster.__doc__ = llm_kmeans_cluster.__doc__.format(k=_KM_K, iters=_KM_ITERS)


# Fit result cached per (application, source fingerprint): the Lloyd
# loop's per-iteration collects are the expensive part, and
# llm_kmeans_cluster + llm_semdedup would otherwise each run the full
# loop. Session identity + dead-context eviction live in
# utils.session_cached (round-5 ADVICE fix, shared with the token and
# shingle caches).
_KM_CACHE: dict = {}


def _km_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the Lloyd loop; return (vec_id, qv, cluster) after the final
    assignment (shared by llm_kmeans_cluster and llm_semdedup)."""
    from ..sources.io import sf_tag
    from ..utils import session_cached

    return session_cached(
        _KM_CACHE, spark, sf_tag(sf_dir), lambda: _km_fit_uncached(spark, sf_dir)
    )


def _km_fit_uncached(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * _KM_Q + F.lit(0.5)).cast("long"),
        ).alias("qv"),
    )
    # ONE aggregate job yields both driver-side scalars the loop needs:
    # the K init centroids (collect_list skips the nulls the when()
    # leaves for non-init rows) and the corpus-wide max|qv| feeding the
    # overflow guards in _km_assign (the xs/x2 int64 bounds need the
    # true max, not an assumed quantization range) — previously two
    # full scans, now one.
    head = qv.agg(
        F.max(F.array_max(F.transform("qv", lambda v: F.abs(v)))).alias("m"),
        F.collect_list(
            F.when(F.col("vec_id") < _KM_K, F.struct("vec_id", "qv"))
        ).alias("init"),
    ).collect()[0]
    max_abs_qv = int(head["m"] or 0)
    cents = sorted((int(r["vec_id"]), [int(v) for v in r["qv"]], 1) for r in head["init"])
    if len(cents) != _KM_K:
        raise AssertionError(f"init expects vec_id 0..{_KM_K - 1}, got {len(cents)}")
    assigned = None
    for it in range(_KM_ITERS):
        assigned = _km_assigned(qv, spark, cents, max_abs_qv)
        if it + 1 == _KM_ITERS:
            break
        # ONE job per update step: the (cluster, dim) hash agg already
        # visits every row, so carrying count(1) beside sum(val) yields
        # the per-cluster row counts for free (cnt at any fixed dim ==
        # the cluster's row count). The previous separate
        # groupBy("cluster").count() re-executed the entire assignment
        # pass — the expensive argmin expression — a second time per
        # iteration (guide §1.2: don't compute things twice).
        sums = (
            assigned.select("cluster", F.posexplode("qv").alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        by_cluster: dict = {}
        counts: dict = {}
        for r in sums:
            by_cluster.setdefault(int(r["cluster"]), {})[int(r["dim"])] = int(r["s"])
            # cnt at any fixed dim == the cluster's row count ONLY for
            # dense equal-length vectors (r18 ADVICE): a ragged/null
            # embedding would make counts depend on row iteration order
            # and silently shift centroid means — fail loudly instead.
            prev = counts.setdefault(int(r["cluster"]), int(r["cnt"]))
            if prev != int(r["cnt"]):
                raise AssertionError(
                    f"cluster {r['cluster']}: per-dim counts differ "
                    f"({prev} vs {r['cnt']}) — qv vectors are not dense/"
                    f"equal-length, the folded count is invalid"
                )
        if len(counts) != _KM_K and _KM_K <= _KM_LITERAL_MAX:
            # at oracle-replayed K an empty cluster silently diverges
            # from the SQL twin; at scaled K (env override, recall-
            # adjudicated) empty lists are normal Lloyd behavior and the
            # codebook simply ships fewer lists.
            raise AssertionError(f"empty cluster after iteration {it}: {sorted(counts)}")
        cents = sorted(
            (j, [d[i] for i in range(len(d))], counts[j])
            for j, d in by_cluster.items()
        )
    # Materialize the final assignment once (vec_id, qv, cluster — the
    # fitted model's output) and truncate its lineage: the frame is
    # session-cached and consumed by llm_kmeans_cluster, llm_semdedup
    # (twice per run: both self-join sides), llm_ann_ivf and
    # llm_ann_ivfpq (inverted lists + probe ranking each), and the lazy
    # plan re-ran the interpreted argmin expression per consumer
    # execution (~0.35 s each at sf0.1, ~7 executions per suite run).
    return assigned.localCheckpoint(eager=True)


# IVF codebook = ONE more centroid-update step over the final Lloyd
# assignment — the "final centroids" a k-means trainer ships. Cached
# per (session, scale): two K-bounded collects (K*d sums + K counts).
_IVF_CODEBOOK_CACHE: dict = {}


def _ivf_codebook(spark: SparkSession, sf_dir: str):
    """(cents, max_abs_qv): the trained IVF quantizer. cents is the
    driver-held exact-integer (j, sum-vector, count) list computed from
    llm_kmeans_cluster's FINAL assignment; max_abs_qv feeds the int64
    overflow guards. Collects are K*d rows — independent of corpus size
    (the broadcast-codebook pattern)."""
    from ..sources.io import sf_tag
    from ..utils import session_cached

    def build():
        assigned = _km_fit(spark, sf_dir)
        # ONE job: the (cluster, dim) hash agg visits every (row, dim)
        # pair, so count(1) gives the cluster's row count and
        # max(abs(val)) folded over dims gives the cluster's max|qv| —
        # the previous separate groupBy("cluster") stats job re-executed
        # the full final assignment pass (guide §1.2).
        sums = (
            assigned.select("cluster", F.posexplode("qv").alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(
                F.sum("val").alias("s"),
                F.count(F.lit(1)).alias("cnt"),
                F.max(F.abs(F.col("val"))).alias("m"),
            )
            .collect()
        )
        by_cluster: dict = {}
        counts: dict = {}
        for r in sums:
            by_cluster.setdefault(int(r["cluster"]), {})[int(r["dim"])] = int(r["s"])
            counts[int(r["cluster"])] = int(r["cnt"])
        if len(counts) != _KM_K and _KM_K <= _KM_LITERAL_MAX:
            # see _km_fit_uncached: strict at oracle-replayed K, fewer
            # lists are fine at scaled (recall-adjudicated) K.
            raise AssertionError(
                f"IVF codebook expects {_KM_K} trained lists, got {sorted(counts)}"
            )
        max_abs_qv = max(int(r["m"]) for r in sums)
        cents = sorted(
            (j, [d[i] for i in range(len(d))], counts[j])
            for j, d in by_cluster.items()
        )
        return cents, max_abs_qv

    return session_cached(_IVF_CODEBOOK_CACHE, spark, sf_tag(sf_dir), build)


def _ivf_oracle_sql() -> str:
    cost = (
        f"CAST({_km_dot_sql('q.qv', 'q.qv')} AS DOUBLE) "
        f"- (2 * {_km_dot_sql('q.qv', 'c.s')}) / c.n "
        f"+ CAST({_km_dot_sql('c.s', 'c.s')} AS DOUBLE) / (c.n * c.n)"
    )
    n = _KM_ITERS
    ctes = _km_oracle() + [
        # cfin: one centroid-update step over the final assignment —
        # exactly what _ivf_codebook collects
        f"ufin AS (SELECT a.cluster, ii.i, SUM(list_extract(qq.qv, ii.i)) AS s "
        f"FROM a{n} a JOIN q qq USING (vec_id), "
        f"LATERAL (SELECT unnest(range(1, len(qq.qv) + 1)) AS i) ii "
        f"GROUP BY a.cluster, ii.i)",
        f"nfin AS (SELECT cluster, COUNT(*) AS n FROM a{n} GROUP BY cluster)",
        "cfin AS (SELECT u.cluster AS j, list(u.s ORDER BY u.i) AS s, "
        "MIN(n.n) AS n FROM ufin u JOIN nfin n ON n.cluster = u.cluster "
        "GROUP BY u.cluster)",
        f"v AS ({_VECS_SQL})",
        # assign replays the engine's multi-assignment: each vector's
        # _IVF_NASSIGN cheapest lists in (cost, j) order — rn <= r is the
        # ROW_NUMBER spelling of _km_multi_assigned's top-r.
        "assign AS (SELECT vec_id, j AS list_id FROM ("
        "SELECT q.vec_id, c.j, ROW_NUMBER() OVER (PARTITION BY q.vec_id "
        f"ORDER BY {cost}, c.j) AS rn FROM q CROSS JOIN cfin c) "
        f"WHERE rn <= {_IVF_NASSIGN})",
        "probes AS (SELECT vec_id AS query_id, j AS list_id FROM ("
        "SELECT q.vec_id, c.j, ROW_NUMBER() OVER (PARTITION BY q.vec_id "
        f"ORDER BY {cost}, c.j) AS rn FROM q CROSS JOIN cfin c "
        f"WHERE q.vec_id < {_N_QUERIES}) WHERE rn <= {_IVF_NPROBE})",
        # DISTINCT mirrors the engine's dropDuplicates: a neighbor
        # replicated into two probed lists appears twice with an
        # identical deterministic cosine.
        "hits AS (SELECT DISTINCT "
        "p.query_id, a.vec_id AS neighbor_id, "
        + _DOT_SQL.format(a="vq.emb", b="va.emb")
        + " / (vq.norm * va.norm) AS cosine "
        "FROM probes p JOIN assign a ON p.list_id = a.list_id "
        "JOIN v vq ON vq.vec_id = p.query_id "
        "JOIN v va ON va.vec_id = a.vec_id "
        "WHERE a.vec_id <> p.query_id)",
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, cosine FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS rnk
        FROM hits)
    WHERE rnk <= {_TOP_K}
    """
    )


@query("llm_ann_ivf", oracle=_ivf_oracle_sql())
def llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k over a TRAINED codebook: centroids are one
    update step over llm_kmeans_cluster's final Lloyd assignment (the
    "final centroids" a trainer ships — round-12 VERDICT task 4;
    previously a modulo-sampled stand-in), every vector is assigned to
    its _IVF_NASSIGN cheapest lists (multi-assignment —
    round-16 VERDICT: the r x storage buys back assignment-stage recall
    that probing cannot, measured recall 1.0 at nprobe=1 on the hard
    corpus), queries probe the nprobe cheapest lists, exact cosine ranks
    within.

    Scale shape: the codebook is K*(d+1) exact integers held driver-side
    and embedded as a literal — list assignment and probe ranking are
    MAP-ONLY (no join, no shuffle; at huge K swap the literal for a
    broadcast join, llm_kmeans_cluster's documented path). The probed
    search touches nprobe/nlist of the corpus instead of 100%; probes
    broadcast so the inverted lists never shuffle.

    Hash-checked despite being "approximate": approximation is vs the
    exact-NN ground truth, but the ALGORITHM is fully deterministic —
    integer-exact Lloyd training (llm_kmeans_cluster's exactness
    contract), integer-exact cost ranking with j tiebreaks, left-fold
    double cosines — so the oracle replays training + one centroid
    update + assignment + probing + ranking bit-exactly. Recall vs the
    exact top-k is measured per rung run (tools/sf1_rung.py).
    """
    v = _vecs(spark, sf_dir)
    assigned = _km_fit(spark, sf_dir)  # (vec_id, qv, cluster)
    cents, max_abs_qv = _ivf_codebook(spark, sf_dir)
    # Inverted lists: each vector lands in its _IVF_NASSIGN cheapest
    # lists of the trained codebook (literal expression at registry K,
    # Arrow-batched GEMM at scaled K — _km_multi_assigned) — map-only
    # scan, then attach emb/norm. The duplicate (query, neighbor) hits
    # two shared lists produce are collapsed before ranking.
    inv = _km_multi_assigned(
        assigned.select("vec_id", "qv"), spark, cents, max_abs_qv, _IVF_NASSIGN
    ).join(v, "vec_id")
    # Probe plan: each query's nprobe cheapest lists (_km_probe_lists —
    # the same ranking machinery at r=nprobe) — 10 query rows either way.
    probes = _km_probe_lists(
        assigned, spark, cents, max_abs_qv, _IVF_NPROBE
    ).join(
        v.select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            F.col("norm").alias("qnorm"),
        ),
        "query_id",
    )
    scos = _dot(F.col("qemb"), F.col("emb")) / (F.col("qnorm") * F.col("norm"))
    # probes = queries x nprobe rows (tiny) — broadcast so the inverted
    # lists never shuffle.
    hits = (
        F.broadcast(probes)
        .join(inv, "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), scos.alias("cosine"))
    )
    # a neighbor replicated into two probed lists appears twice with an
    # identical (deterministic) cosine — collapse before ranking
    hits = hits.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        hits.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "neighbor_id", "rnk", "cosine")
    )


# The fixture embeddings are near-orthogonal (max within-cluster cosine
# ~0.51 at every sf), so a production-style 0.95 cutoff returns the
# empty set and the hash check degenerates to schema-only. 0.45 keeps
# the semantics identical while the pair stage provably fires (the
# result carries real pairs whose cosines the oracle must reproduce).
_SEMDEDUP_T = 0.45


def _semdedup_oracle() -> str:
    pair_cos = (
        f"{_DOT_SQL.format(a='va.emb', b='vb.emb')} / (va.norm * vb.norm)"
    )
    return (
        "WITH "
        + ",\n    ".join(
            [
                *_km_oracle(),
                f"v AS ({_VECS_SQL})",
                f"""pairs AS (
        SELECT aa.cluster, aa.vec_id AS vec_a, bb.vec_id AS vec_b,
               {pair_cos} AS cosine
        FROM a{_KM_ITERS} aa JOIN a{_KM_ITERS} bb
          ON aa.cluster = bb.cluster AND aa.vec_id < bb.vec_id
        JOIN v va ON va.vec_id = aa.vec_id
        JOIN v vb ON vb.vec_id = bb.vec_id)""",
            ]
        )
        + f"""
    SELECT CAST(cluster AS INTEGER) AS cluster, vec_a, vec_b,
           round(cosine, 6) AS cosine
    FROM pairs WHERE cosine >= {_SEMDEDUP_T}
    """
    )


@query("llm_semdedup", oracle=_semdedup_oracle())
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end: k-means clustering (llm_kmeans_cluster's
    fit, shared code) followed by WITHIN-CLUSTER all-pairs cosine — the
    two-stage semantic dedup from the SemDeDup line of work: clustering
    makes the quadratic stage tractable by confining it to cluster-sized
    blocks. Pairs at cosine >= {t} (upper triangle) are the semantic
    duplicates a curation pass would drop (threshold fixture-tuned —
    see _SEMDEDUP_T note; swap in ~0.95 for a real corpus).

    Scale shape: the pair stage is an EQUI-join on cluster id — never a
    corpus cartesian; per-cluster work is |cluster|^2 * d, the knob being
    K (more clusters = smaller blocks = less quadratic work, the same
    trade the paper tunes). Embedding vectors ride the cluster shuffle
    once; cosine is the sequential-fold double dot product shared with
    llm_topk_cosine (oracle-bit-identical), rounded to 6 decimals at the
    surface.
    """
    assigned = _km_fit(spark, sf_dir).select("vec_id", "cluster")
    v = _vecs(spark, sf_dir)
    sided = assigned.join(v, "vec_id")
    a = sided.select(
        F.col("cluster"),
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = sided.select(
        F.col("cluster"),
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b"))
    return (
        a.join(b, "cluster")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= _SEMDEDUP_T)
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            "vec_a",
            "vec_b",
            F.round("cosine", 6).alias("cosine"),
        )
    )


llm_semdedup.__doc__ = llm_semdedup.__doc__.format(t=_SEMDEDUP_T)


_HN_QUERIES = 10
_HN_K = 5
_VECS_LBL_SQL = (
    "SELECT vec_id, label, embedding AS emb, "
    + _NORM_SQL.format(a="embedding")
    + " AS norm FROM embeddings"
)


@query(
    "llm_hard_negatives",
    oracle=f"""
    WITH v AS ({_VECS_LBL_SQL}),
         pairs AS (
            SELECT q.vec_id AS query_id, q.label AS query_label,
                   c.vec_id AS negative_id, c.label AS negative_label,
                   {_DOT_SQL.format(a="q.emb", b="c.emb")} / (q.norm * c.norm)
                       AS cosine
            FROM v q JOIN v c
              ON q.vec_id < {_HN_QUERIES} AND c.label <> q.label),
         ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, negative_id) AS rnk
            FROM pairs)
    SELECT query_id, query_label, negative_id, negative_label,
           CAST(rnk AS INTEGER) AS rnk, cosine
    FROM ranked WHERE rnk <= {_HN_K}
    """,
)
def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive training: for each query
    vector, the most-similar corpus vectors carrying a DIFFERENT label —
    the near-miss examples that make embedding models learn boundaries
    (random negatives are trivially separable; the hard ones sit just
    across the margin).  Same exact-cosine machinery as llm_topk_cosine
    (left-to-right fold dot product, bit-identical in DuckDB) with the
    cross-label constraint riding the broadcast join predicate, so the
    label filter prunes candidates BEFORE any score is computed.

    Scale identical to the top-k path: queries broadcast, corpus
    scanned once, per-query top-k window over a query-partitioned
    input; at 100 TB swap the brute-force scan for the IVF/LSH
    candidate stage (llm_ann_ivf) and keep the label-inequality
    predicate on the candidate join unchanged."""
    e = load(spark, sf_dir, "embeddings")
    n = spark.sparkContext.defaultParallelism
    v = (
        e.repartition(n, "vec_id")
        .select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("emb"),
        )
        .withColumn("norm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
    )
    q = v.where(F.col("vec_id") < _HN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("emb").alias("qemb"),
        F.col("norm").alias("qnorm"),
    )
    cos = _dot(F.col("qemb"), F.col("emb")) / (F.col("qnorm") * F.col("norm"))
    pairs = v.join(
        F.broadcast(q), F.col("label") != F.col("query_label")
    ).select(
        "query_id",
        "query_label",
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        cos.alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("negative_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _HN_K)
        .select(
            "query_id",
            "query_label",
            "negative_id",
            "negative_label",
            "rnk",
            "cosine",
        )
    )


# --- product quantization (the memory half of IVF-PQ) --------------------
_PQ_M = 8  # subspaces
_PQ_DSUB = 8  # dims per subspace (8 x 8 = the 64-dim fixture)
_PQ_K = 16  # codewords per sub-codebook -> 8 x 4 bits = 32-bit codes
_PQ_ITERS = 2  # Lloyd rounds per subspace (final codes use c_{ITERS-1})
# ADC shortlist depth for the exact re-rank stage. Production PQ never
# trusts ADC order for the final k — it shortlists L candidates from the
# compressed scan and re-ranks them with exact vectors (L exact distance
# computations per query, corpus-size-independent). Measured on the
# near-orthogonal fixture at sf0.01: ADC-only top-5 recall 0.32; the
# L=50 shortlist contains 74% of the exact top-5 (L=100: 86%) — the
# fixture's neighbor/background cosine gap (~0.1) sits below 32-bit
# quantization noise, which is exactly the regime the re-rank exists for.
_PQ_SHORTLIST = 50


def _pq_cost_sql(qa: str, c: str) -> str:
    """The shared 3-term exact-integer cost, subspace edition."""
    return (
        f"CAST({_km_dot_sql(qa + '.qv', qa + '.qv')} AS DOUBLE) "
        f"- (2 * {_km_dot_sql(qa + '.qv', c + '.s')}) / {c}.n "
        f"+ CAST({_km_dot_sql(c + '.s', c + '.s')} AS DOUBLE) / ({c}.n * {c}.n)"
    )


def _pq_train_ctes() -> list:
    """Per-subspace training/encoding CTE strings (s{m}, c{m}_t, a{m}_t,
    lut{m}, codes) — shared by _pq_oracle_sql and the IVF-PQ composition
    (_ivfpq_oracle_sql). Callers must define the shared micro-int `q`
    CTE first. CTE names are subspace-suffixed, so they never collide
    with _km_oracle's full-space q/c0/a1/u1/n1 chain."""
    ctes = []
    for m in range(_PQ_M):
        lo, hi = m * _PQ_DSUB + 1, (m + 1) * _PQ_DSUB
        ctes.append(
            f"s{m} AS MATERIALIZED "
            f"(SELECT vec_id, list_slice(qv, {lo}, {hi}) AS qv FROM q)"
        )
        ctes.append(
            f"c{m}_0 AS MATERIALIZED "
            f"(SELECT vec_id AS j, qv AS s, CAST(1 AS BIGINT) AS n "
            f"FROM s{m} WHERE vec_id < {_PQ_K})"
        )
        for t in range(1, _PQ_ITERS + 1):
            ctes.append(
                f"a{m}_{t} AS MATERIALIZED (SELECT vec_id, j AS cluster FROM ("
                f"SELECT q.vec_id, c.j, ROW_NUMBER() OVER "
                f"(PARTITION BY q.vec_id ORDER BY {_pq_cost_sql('q', 'c')}, c.j) "
                f"AS rn FROM s{m} q CROSS JOIN c{m}_{t - 1} c) WHERE rn = 1)"
            )
            if t < _PQ_ITERS:
                ctes.append(
                    f"u{m}_{t} AS MATERIALIZED (SELECT a.cluster, ii.i, "
                    f"SUM(list_extract(qq.qv, ii.i)) AS s "
                    f"FROM a{m}_{t} a JOIN s{m} qq USING (vec_id), "
                    f"LATERAL (SELECT unnest(range(1, len(qq.qv) + 1)) AS i) ii "
                    f"GROUP BY a.cluster, ii.i)"
                )
                ctes.append(
                    f"n{m}_{t} AS MATERIALIZED (SELECT cluster, COUNT(*) AS n "
                    f"FROM a{m}_{t} GROUP BY cluster)"
                )
                ctes.append(
                    f"c{m}_{t} AS MATERIALIZED (SELECT u.cluster AS j, "
                    f"list(u.s ORDER BY u.i) AS s, MIN(n.n) AS n "
                    f"FROM u{m}_{t} u JOIN n{m}_{t} n ON n.cluster = u.cluster "
                    f"GROUP BY u.cluster)"
                )
        ctes.append(
            f"lut{m} AS MATERIALIZED (SELECT q.vec_id AS query_id, c.j, "
            f"{_pq_cost_sql('q', 'c')} AS cost "
            f"FROM s{m} q CROSS JOIN c{m}_{_PQ_ITERS - 1} c "
            f"WHERE q.vec_id < {_N_QUERIES})"
        )
    code_cols = ", ".join(f"a{m}.cluster AS code{m}" for m in range(_PQ_M))
    code_joins = " ".join(
        f"JOIN a{m}_{_PQ_ITERS} a{m} USING (vec_id)" for m in range(_PQ_M)
    )
    ctes.append(
        f"codes AS MATERIALIZED (SELECT q.vec_id, {code_cols} FROM q {code_joins})"
    )
    return ctes


def _pq_adc_ctes() -> list:
    """hits/shortlist/rescored over the full code list (no IVF pruning) —
    the llm_ann_pq scan stage."""
    ctes = []
    adc = " + ".join(f"l{m}.cost" for m in range(_PQ_M))
    lut_joins = "JOIN lut0 l0 ON l0.j = cd.code0 " + " ".join(
        f"JOIN lut{m} l{m} ON l{m}.j = cd.code{m} "
        f"AND l{m}.query_id = l0.query_id"
        for m in range(1, _PQ_M)
    )
    ctes.append(
        f"hits AS (SELECT l0.query_id, cd.vec_id AS neighbor_id, {adc} AS adc "
        f"FROM codes cd {lut_joins} WHERE cd.vec_id <> l0.query_id)"
    )
    ctes.append(
        "shortlist AS MATERIALIZED (SELECT query_id, neighbor_id, adc FROM ("
        "SELECT query_id, neighbor_id, adc, ROW_NUMBER() OVER "
        "(PARTITION BY query_id ORDER BY adc, neighbor_id) AS rnk FROM hits) "
        f"WHERE rnk <= {_PQ_SHORTLIST})"
    )
    ctes.append(
        "rescored AS MATERIALIZED (SELECT s.query_id, s.neighbor_id, s.adc, "
        + _DOT_SQL.format(a="vq.emb", b="vn.emb")
        + " / (vq.norm * vn.norm) AS cosine "
        "FROM shortlist s "
        "JOIN v vq ON vq.vec_id = s.query_id "
        "JOIN v vn ON vn.vec_id = s.neighbor_id)"
    )
    return ctes


_PQ_FINAL_SELECT = f"""
    SELECT query_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk, cosine, adc
    FROM (
        SELECT query_id, neighbor_id, adc, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM rescored)
    WHERE rnk <= {_TOP_K}
    """


def _pq_oracle_sql() -> str:
    """Unroll per-subspace Lloyd training + encoding + ADC ranking —
    _km_oracle's pattern instantiated once per subspace over
    list_slice views of the micro-int vectors."""
    # Every CTE below is MATERIALIZED (the graph-oracle incident,
    # family-wide policy): DuckDB inlines a default CTE once PER
    # REFERENCE, and `codes` alone references eight a{m}_2 training
    # chains — inlined, the replay went super-linear (>550 s at 500
    # vectors); materialized it is sub-second.
    ctes = [
        "q AS MATERIALIZED (SELECT vec_id, list_transform(embedding, "
        f"x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_Q} + 0.5) AS BIGINT)) AS qv "
        "FROM embeddings)",
        f"v AS MATERIALIZED ({_VECS_SQL})",
        *_pq_train_ctes(),
        *_pq_adc_ctes(),
    ]
    return "WITH " + ",\n    ".join(ctes) + _PQ_FINAL_SELECT


def _pq_slice(m: int) -> F.Column:
    return F.slice(F.col("qv"), m * _PQ_DSUB + 1, _PQ_DSUB)


def _pq_slice_sql(m: int) -> str:
    """SQL-text twin of _pq_slice for the string-built cost array."""
    return f"slice(qv, {m * _PQ_DSUB + 1}, {_PQ_DSUB})"


_PQ_CACHE: dict = {}


def _pq_train_encode(spark: SparkSession, sf_dir: str):
    """Session-cached: llm_ann_pq and llm_ann_ivfpq share one training
    per (session, scale) — the build-once/consume-many split every
    derived index here uses (_KM_CACHE, _IVF_CODEBOOK_CACHE, ...)."""
    from ..sources.io import sf_tag
    from ..utils import session_cached

    return session_cached(
        _PQ_CACHE, spark, sf_tag(sf_dir), lambda: _pq_train_encode_uncached(spark, sf_dir)
    )


def _pq_train_encode_uncached(spark: SparkSession, sf_dir: str):
    """LOCKSTEP per-subspace Lloyd over micro-int slices; returns
    (codes DataFrame with vec_id + code0..code{M-1}, per-subspace
    (cents, max_abs_qv) list).

    All {_PQ_M} sub-codebooks train simultaneously: one init aggregate,
    then per Lloyd round ONE assignment-plus-update job — every
    subspace's argmin is a column expression over its slice, and the
    posexplode routes each dim to (subspace, that subspace's code,
    sub-dim) so a single hash aggregate yields every codebook's sums
    AND counts.  The naive per-subspace loop was {_PQ_M} x 3 driver
    jobs (~32 s); lockstep is 3 jobs total (~5 s), and the collect
    sizes stay K*d-bounded (corpus-independent) either way."""
    qv = (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * _KM_Q + F.lit(0.5)).cast(
                    "long"
                ),
            ).alias("qv"),
        )
        .localCheckpoint(eager=True)
    )
    head = qv.agg(
        *[
            F.max(
                F.array_max(F.transform(_pq_slice(m), lambda v: F.abs(v)))
            ).alias(f"m{m}")
            for m in range(_PQ_M)
        ],
        F.collect_list(
            F.when(F.col("vec_id") < _PQ_K, F.struct("vec_id", "qv"))
        ).alias("init"),
    ).collect()[0]
    init = sorted(
        (int(r["vec_id"]), [int(x) for x in r["qv"]]) for r in head["init"]
    )
    books = [
        (
            [
                (vid, full[m * _PQ_DSUB : (m + 1) * _PQ_DSUB], 1)
                for vid, full in init
            ],
            int(head[f"m{m}"] or 0),
        )
        for m in range(_PQ_M)
    ]

    def with_codes_literal(df: DataFrame) -> DataFrame:
        for m in range(_PQ_M):
            cents, max_abs = books[m]
            df = df.withColumn(
                f"code{m}",
                F.array_min(_km_cost_array(cents, max_abs, _pq_slice_sql(m)))["j"],
            )
        return df

    def with_codes(df: DataFrame) -> DataFrame:
        # GEMM the 8-subspace encode when every book fits the float64
        # exactness bounds (round-18 VERDICT task 3: the encode
        # expression is M interpreted argmin HOFs per row — measured
        # ~0.9 s per execution at sf0.1, and training evaluates it
        # _PQ_ITERS times: once inside each update-stats job and once
        # for the materialized code table). One mapInPandas pass
        # computes all M argmins vectorized — bit-identical to the
        # literal path by the same proof _km_assigned's GEMM dispatch
        # carries: every product/partial sum is an exact integer < 2^53
        # (guarded in _km_gemm_arrays), the final three-term cost is the
        # identical left-to-right IEEE sequence, and np.argmin's
        # first-occurrence rule over j-sorted columns == ORDER BY cost,
        # j. Books exceeding the bounds fall back to the literal
        # expression (int64-exact to 2^63).
        try:
            arrs = [_km_gemm_arrays(c, mx) for c, mx in books]
        except AssertionError:
            return with_codes_literal(df)
        import numpy as np

        def encode(batches):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["qv"]]
                )
                out = {"vec_id": pdf["vec_id"].to_numpy(), "qv": pdf["qv"]}
                for m, (S, N, J, s2_over_n2) in enumerate(arrs):
                    xm = x[:, m * _PQ_DSUB : (m + 1) * _PQ_DSUB]
                    x2 = (xm * xm).sum(axis=1)
                    cost = (
                        x2[:, None]
                        - (2.0 * (xm @ S.T)) / N[None, :]
                        + s2_over_n2[None, :]
                    )
                    out[f"code{m}"] = J[np.argmin(cost, axis=1)].astype(
                        "int32"
                    )
                yield pd.DataFrame(out)

        schema = "vec_id bigint, qv array<bigint>, " + ", ".join(
            f"code{m} int" for m in range(_PQ_M)
        )
        return df.mapInPandas(encode, schema)

    for t in range(_PQ_ITERS):
        codes = with_codes(qv)
        if t + 1 == _PQ_ITERS:
            break
        code_arr = F.array(*[F.col(f"code{m}") for m in range(_PQ_M)])
        stats = (
            codes.select(code_arr.alias("ca"), F.posexplode("qv").alias("dim", "val"))
            .select(
                F.floor(F.col("dim") / _PQ_DSUB).cast("int").alias("m"),
                F.element_at(
                    F.col("ca"), F.floor(F.col("dim") / _PQ_DSUB).cast("int") + 1
                ).alias("cluster"),
                (F.col("dim") % _PQ_DSUB).alias("sub_dim"),
                "val",
            )
            .groupBy("m", "cluster", "sub_dim")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        sums: dict = {}
        counts: dict = {}
        for r in stats:
            sums.setdefault((int(r["m"]), int(r["cluster"])), {})[
                int(r["sub_dim"])
            ] = int(r["s"])
            counts[(int(r["m"]), int(r["cluster"]))] = int(r["cnt"])
        for m in range(_PQ_M):
            got = sorted(j for mm, j in counts if mm == m)
            if len(got) != _PQ_K:
                # codes index the j-sorted LUT positionally; a dropped
                # list would silently misalign — fail loudly (the
                # _km_fit_uncached policy at oracle-replayed K).
                raise AssertionError(
                    f"PQ subspace {m}: empty codeword after round {t}: {got}"
                )
            cents = sorted(
                (
                    j,
                    [sums[(m, j)][i] for i in range(_PQ_DSUB)],
                    counts[(m, j)],
                )
                for mm, j in counts
                if mm == m
            )
            books[m] = (cents, books[m][1])
    # Materialize the final code table (vec_id + M small ints — the
    # 32-bit-per-vector index PQ exists to produce) and truncate its
    # lineage: the encode expression is M argmin HOFs per row, which
    # Spark evaluates interpreted, and the lazy frame would re-run it
    # once per consumer execution (llm_ann_pq's ADC scan, its re-rank,
    # and llm_ann_ivfpq again — measured 1.7 s per execution at sf0.1).
    # This is the index-build/query split a PQ index has by definition;
    # the materialized rows are the compressed codes, never the vectors.
    return codes.drop("qv").localCheckpoint(eager=True), books


def _pq_query_luts(spark: SparkSession, sf_dir: str, books: list) -> DataFrame:
    """(query_id, lut0..lut{M-1}) — each query's per-subspace cost
    arrays in codeword-j order (the LUT the ADC stage element_at's)."""
    qv = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * _KM_Q + F.lit(0.5)).cast("long"),
        ).alias("qv"),
    )
    qrows = qv.filter(F.col("vec_id") < _N_QUERIES)
    # ALL M LUT columns in ONE projection over the query rows: each
    # lut{m} is a per-row expression over that row's own subspace slice,
    # so there is nothing to join. The previous spelling built the frame
    # as M chained self-joins on query_id — same values, but measured
    # 5.5 s of driver-side Catalyst analysis per call (the joins also
    # re-scanned the embeddings source M+1 times when executed). One
    # select = one scan, zero joins, and the cost arithmetic is the
    # identical _km_cost_array form (the qv= parameter routes each
    # subspace's slice exactly as the lockstep trainer does).
    return qrows.select(
        F.col("vec_id").alias("query_id"),
        *[
            F.transform(
                _km_cost_array(books[m][0], books[m][1], _pq_slice_sql(m)),
                lambda s: s["cost"],
            ).alias(f"lut{m}")
            for m in range(_PQ_M)
        ],
    )


def _pq_adc_expr() -> F.Column:
    adc = F.element_at("lut0", F.col("code0") + 1)
    for m in range(1, _PQ_M):
        adc = adc + F.element_at(f"lut{m}", F.col(f"code{m}") + 1)
    return adc


def _pq_shortlist_rerank(
    spark: SparkSession, sf_dir: str, scored: DataFrame
) -> DataFrame:
    """ADC top-_PQ_SHORTLIST per query -> exact-cosine re-rank -> top-k.
    Shared by llm_ann_pq (full-scan ADC) and llm_ann_ivfpq (IVF-pruned
    ADC): the scored frame is (query_id, neighbor_id, adc)."""
    w_adc = Window.partitionBy("query_id").orderBy(
        F.asc("adc"), F.asc("neighbor_id")
    )
    shortlist = (
        scored.withColumn("rnk_adc", F.row_number().over(w_adc))
        .filter(F.col("rnk_adc") <= _PQ_SHORTLIST)
        .drop("rnk_adc")
    )
    v = _vecs(spark, sf_dir)
    cos = _dot(F.col("qemb"), F.col("emb")) / (F.col("qnorm") * F.col("norm"))
    rescored = (
        shortlist.join(
            v.select(
                F.col("vec_id").alias("query_id"),
                F.col("emb").alias("qemb"),
                F.col("norm").alias("qnorm"),
            ),
            "query_id",
        )
        .join(
            v.select(F.col("vec_id").alias("neighbor_id"), "emb", "norm"),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", "adc", cos.alias("cosine"))
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        rescored.withColumn("rnk", F.row_number().over(w_cos))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "neighbor_id", "rnk", "cosine", "adc")
    )


@query("llm_ann_pq", oracle=_pq_oracle_sql())
def llm_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT-QUANTIZATION ANN (ADC shortlist + exact re-rank) — the
    memory half of the canonical IVF-PQ billion-vector index
    (llm_ann_ivf is the probe half). Two-stage, the production shape:
    (1) every vector is compressed to 8 sub-codebook codes (8 x
    log2(16) = 32 bits vs 64 float64s, 128x), queries build an 8 x 16
    lookup table of exact subspace distances, and every corpus CODE —
    never the vectors — is scored as the sum of 8 table lookups
    (asymmetric distance computation) to shortlist the _PQ_SHORTLIST
    ADC-nearest candidates; (2) only those L candidates are re-ranked
    by EXACT cosine, which orders the final top-k. Output carries both
    scores, so ADC-vs-exact disagreement is directly auditable.

    Deterministic end to end, so the oracle replays it bit-exactly:
    per-subspace Lloyd runs on micro-int slices under the shared
    exactness contract (integer moments, 3-term IEEE cost, j
    tie-breaks); the LUT entries are that same cost form; the ADC sum
    is a FIXED 8-term left-to-right expression (never an aggregation
    over unordered rows); both rankings tie-break on neighbor_id.
    Shortlist recall is measured, not assumed (_PQ_SHORTLIST comment +
    tests): 0.74 of the exact top-5 at L=50 on the near-orthogonal
    fixture — the hostile regime the re-rank stage exists for.

    Scale shape: training/encoding are map-only passes against
    driver-literal sub-codebooks (K*d integers — corpus-independent;
    lockstep trainer, see _pq_train_encode); the ADC scan joins a
    broadcast 10-row LUT table against the code list, whose 32-bit
    rows are what actually sit in memory at 1B vectors; the exact
    re-rank touches only L rows per query regardless of corpus size.
    At huge K_sub the literal swaps for the GEMM path like
    _km_assigned.
    """
    codes, books = _pq_train_encode(spark, sf_dir)
    luts = _pq_query_luts(spark, sf_dir, books)
    hits = codes.join(
        F.broadcast(luts), F.col("vec_id") != F.col("query_id")
    )
    scored = hits.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _pq_adc_expr().alias("adc"),
    )
    return _pq_shortlist_rerank(spark, sf_dir, scored)


def _ivfpq_oracle_sql() -> str:
    """IVF-PQ composition oracle: the full-space Lloyd chain + one
    update step (llm_ann_ivf's training), multi-assignment + probe
    ranking, the per-subspace PQ training chain (_pq_train_ctes), then
    ADC over ONLY the probed candidates, shortlist, exact re-rank.
    Every structural CTE MATERIALIZED (family policy)."""
    cost = (
        f"CAST({_km_dot_sql('q.qv', 'q.qv')} AS DOUBLE) "
        f"- (2 * {_km_dot_sql('q.qv', 'c.s')}) / c.n "
        f"+ CAST({_km_dot_sql('c.s', 'c.s')} AS DOUBLE) / (c.n * c.n)"
    )
    n = _KM_ITERS
    km = _km_oracle()
    km[0] = km[0].replace("q AS (", "q AS MATERIALIZED (", 1)
    ctes = km + [
        f"ufin AS MATERIALIZED (SELECT a.cluster, ii.i, "
        f"SUM(list_extract(qq.qv, ii.i)) AS s "
        f"FROM a{n} a JOIN q qq USING (vec_id), "
        f"LATERAL (SELECT unnest(range(1, len(qq.qv) + 1)) AS i) ii "
        f"GROUP BY a.cluster, ii.i)",
        f"nfin AS MATERIALIZED (SELECT cluster, COUNT(*) AS n "
        f"FROM a{n} GROUP BY cluster)",
        "cfin AS MATERIALIZED (SELECT u.cluster AS j, "
        "list(u.s ORDER BY u.i) AS s, "
        "MIN(n.n) AS n FROM ufin u JOIN nfin n ON n.cluster = u.cluster "
        "GROUP BY u.cluster)",
        f"v AS MATERIALIZED ({_VECS_SQL})",
        "assign AS MATERIALIZED (SELECT vec_id, j AS list_id FROM ("
        "SELECT q.vec_id, c.j, ROW_NUMBER() OVER (PARTITION BY q.vec_id "
        f"ORDER BY {cost}, c.j) AS rn FROM q CROSS JOIN cfin c) "
        f"WHERE rn <= {_IVF_NASSIGN})",
        "probes AS MATERIALIZED (SELECT vec_id AS query_id, j AS list_id FROM ("
        "SELECT q.vec_id, c.j, ROW_NUMBER() OVER (PARTITION BY q.vec_id "
        f"ORDER BY {cost}, c.j) AS rn FROM q CROSS JOIN cfin c "
        f"WHERE q.vec_id < {_N_QUERIES}) WHERE rn <= {_IVF_NPROBE})",
        *_pq_train_ctes(),
        "cand AS MATERIALIZED (SELECT DISTINCT p.query_id, "
        "a.vec_id AS neighbor_id "
        "FROM probes p JOIN assign a ON p.list_id = a.list_id "
        "WHERE a.vec_id <> p.query_id)",
    ]
    adc = " + ".join(f"l{m}.cost" for m in range(_PQ_M))
    lut_joins = " ".join(
        f"JOIN lut{m} l{m} ON l{m}.query_id = c.query_id "
        f"AND l{m}.j = cd.code{m}"
        for m in range(_PQ_M)
    )
    ctes.append(
        f"hits AS (SELECT c.query_id, c.neighbor_id, {adc} AS adc "
        f"FROM cand c JOIN codes cd ON cd.vec_id = c.neighbor_id {lut_joins})"
    )
    ctes.extend(_pq_adc_ctes()[1:])  # shortlist + rescored (reference hits/v)
    return "WITH " + ",\n    ".join(ctes) + _PQ_FINAL_SELECT


@query("llm_ann_ivfpq", oracle=_ivfpq_oracle_sql())
def llm_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ END TO END — the canonical billion-vector index, composed
    from the two halves this registry ships separately: IVF probe
    pruning (llm_ann_ivf's trained codebook, multi-assignment and probe
    ranking) selects WHICH vectors to score, PQ asymmetric-distance
    lookups (llm_ann_pq's sub-codebooks and LUTs) score them WITHOUT
    touching the vectors, and the exact-cosine re-rank orders the final
    top-k from the L-candidate shortlist.

    At 1B vectors this composition is why the index fits and answers:
    the probe stage touches nprobe/nlist of the corpus, the scored
    representation is 32 bits/vector, and exact vectors are read for
    only L rows per query. Every stage here is the already-adjudicated
    machinery (_km_fit / _ivf_codebook / _km_multi_assigned /
    _pq_train_encode / _pq_query_luts / _pq_shortlist_rerank), so the
    composition's oracle replays the ENTIRE pipeline — both trainings,
    assignment, probing, candidate pruning, ADC, re-rank — bit-exactly.

    Determinism inherits from the halves (integer-exact trainings and
    costs, fixed-order ADC sum, id tie-breaks); the candidate set is
    identical in both engines because assignment/probing are, and
    duplicate (query, neighbor) pairs from multi-assigned shared lists
    are collapsed by DISTINCT before scoring (each would carry an
    identical ADC)."""
    assigned = _km_fit(spark, sf_dir)
    cents, max_abs_qv = _ivf_codebook(spark, sf_dir)
    inv = _km_multi_assigned(
        assigned.select("vec_id", "qv"), spark, cents, max_abs_qv, _IVF_NASSIGN
    )
    probes = _km_probe_lists(assigned, spark, cents, max_abs_qv, _IVF_NPROBE)
    cand = (
        F.broadcast(probes)
        .join(inv, "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    codes, books = _pq_train_encode(spark, sf_dir)
    luts = _pq_query_luts(spark, sf_dir, books)
    scored = (
        cand.join(codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(luts), "query_id")
        .select("query_id", "neighbor_id", _pq_adc_expr().alias("adc"))
    )
    return _pq_shortlist_rerank(spark, sf_dir, scored)
