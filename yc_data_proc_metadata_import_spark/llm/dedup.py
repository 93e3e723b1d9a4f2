"""Deduplication operators for LLM training-data curation (SURVEY.md SS2.13).

Exact dedup, exact n-gram Jaccard near-dup, MinHash-LSH near-dup, SimHash
near-dup, and rolling-hash fingerprinting over the ``documents`` fixture.
Everything is built-in column expressions + shuffle-only joins — no Python
in any hot path, no driver-side state, no collect.

100 TB design map (which variant to run at which scale):
- llm_dedup_exact: one hash aggregation keyed on sha256(text) — the
  shuffle carries 32-byte digests, not document bodies. Always viable.
- llm_dedup_ngram: EXACT all-pairs Jaccard with the classic size-ratio
  prefilter (|A| and |B| within t..1/t of each other — a necessary
  condition for J>=t, so the filter never changes the answer). Quadratic;
  the ground-truth/small-partition tool.
- llm_dedup_near: MinHash-LSH — the linear-shuffle scale path. Banded
  signatures turn near-dup search into groupBy/join on band keys; the
  quadratic blowup is confined to same-band buckets. No driver state.
- llm_dedup_simhash: 64-bit SimHash + 16-bit band blocking + Hamming
  verify — the cheaper fingerprint alternative when token-level Jaccard
  is overkill.

Determinism: every hash here is a fixed function and Jaccard is an
integer ratio (one IEEE division — bit-identical), so every output is
fully deterministic AND oracle-checked: llm_dedup_near's LSH has
measured 100% recall on the fixtures so the exact all-pairs SQL is its
oracle, and llm_dedup_simhash uses exact-integer hashes (polynomial
fold + Knuth multiply) that DuckDB replays verbatim. The verify stages
recompute exact Jaccard/Hamming, which llm_dedup_ngram cross-validates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.io import load, load_documents_wide

# Shingle width (tokens per shingle) and near-dup Jaccard threshold.
_SHINGLE = 3
_JACCARD_T = 0.5

# MinHash: 32 permutations banded 8x4 -> P(candidate | J=0.9) ~ 0.9998,
# P(candidate | J=0.5) ~ 0.41 — tuned to catch the near-identical docs a
# dedup pass actually targets while keeping bucket sizes tiny.
_MINHASH_K = 32
_BANDS = 8
_ROWS_PER_BAND = _MINHASH_K // _BANDS

_TOKS = r"filter(split(lower(text), '\\s+'), t -> t <> '')"
# Shingles are built from a pre-computed ``toks`` COLUMN, never by inlining
# the tokenizer into the lambda: an expression inside ``transform``'s body
# is evaluated per element, so inlining the regex split there re-tokenizes
# the document once per shingle (~50x; measured 6.8 s -> 0.5 s for the
# shingle stage at sf0.1 when hoisted).
_SHINGLES_FROM_TOKS = (
    f"array_distinct(if(size(toks) >= {_SHINGLE}, "
    f"transform(sequence(1, size(toks) - {_SHINGLE - 1}), "
    f"i -> concat_ws(' ', slice(toks, i, {_SHINGLE}))), "
    "array()))"
)

_SHINGLES_SQL = rf"""
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(toks) - {_SHINGLE - 2}),
               i -> array_to_string(list_slice(toks, i, i + {_SHINGLE - 1}), ' '))) AS shingles
    FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                 t -> t <> '') AS toks
          FROM documents)
    WHERE len(toks) >= {_SHINGLE}
"""


def shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles) — distinct 3-token shingles per document.

    The fixture is a single parquet file, which Spark scans as ONE input
    partition; everything downstream (minhash signatures, the
    nested-loop verify joins) would then run on one task. Repartition to
    the session's parallelism first — on a real multi-file 100 TB corpus
    the scan is already parallel and this is a no-op-sized shuffle.

    Deliberately NO ``size(shingles) > 0`` filter here: Catalyst pushes
    that predicate below the repartition by substituting the whole
    shingle expression (tokenizer inside the lambda) into a per-row
    Filter — the exact recompute the hoisted ``toks`` projection avoids.
    Docs with < _SHINGLE tokens keep an empty ``shingles`` array, which
    is inert in every consumer: they explode to zero inverted-index
    rows, and any band-collision pair involving one verifies to a
    NULL/0 Jaccard that the >= threshold drops in Spark and DuckDB
    alike.
    """
    n = spark.sparkContext.defaultParallelism
    return (
        load_documents_wide(spark, sf_dir)
        .repartition(n, "doc_id")
        .withColumn("toks", F.expr(_TOKS))
        .select("doc_id", F.expr(_SHINGLES_FROM_TOKS).alias("shingles"))
    )


# Six keys (ngram/near/cluster/recall-audit/curation and their verify
# stages) consume the shingle table; like llm/text.py's token cache, one
# eager localCheckpoint per (session, scale) replaces per-key rebuilds —
# the "build the index once, fan out consumers" split a real pipeline
# uses. tests/test_plans.py keeps calling the UNCACHED shingled() so the
# tokenizer-hoisting plan guards still exercise the real pipeline.
_SHINGLE_CACHE: dict[tuple[str, str], DataFrame] = {}


def shingled_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..utils import session_cached

    return session_cached(
        _SHINGLE_CACHE,
        spark,
        sf_dir,
        lambda: shingled(spark, sf_dir).localCheckpoint(eager=True),
    )


# The hashed inverted index (doc_id, n_sh, xxhash64(shingle)) is the
# second shared derived input of the dedup family: ngram-Jaccard pair
# generation, the LSH recall audit's exact ground truth, and the
# train/test contamination check all consume the identical exploded
# table. One materialization per (session, scale) — index size ~2% of
# corpus at 100 TB (8-byte hashes), the "build the index once, fan out
# consumers" split production dedup runs.
_HASHED_INDEX_CACHE: dict[tuple[str, str], DataFrame] = {}


def hashed_index_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..utils import session_cached

    def build() -> DataFrame:
        sh = shingled_cached(spark, sf_dir)
        return sh.select(
            "doc_id",
            F.size("shingles").alias("n_sh"),
            F.explode(F.expr("transform(shingles, s -> xxhash64(s))")).alias("sh_h"),
        ).localCheckpoint(eager=True)

    return session_cached(_HASHED_INDEX_CACHE, spark, sf_dir, build)


# Oracle pair generation mirrors the Spark inverted-index shape (unnest
# distinct shingles, self-join on the shingle, COUNT(*) per pair ==
# intersection size) instead of all-pairs list_intersect: identical
# results — a pair sharing zero shingles has J=0 and is dropped by the
# threshold either way, and the size-ratio prune is an exact necessary
# condition for J >= 0.5 (nb <= 2*na) — but linear in actual overlap, so
# the driver's adjudication budget isn't spent on an O(n^2) oracle
# (measured 6.2s -> sub-second at sf0.01).
_INV_SQL = f"""
    SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s
    FROM ({_SHINGLES_SQL})
"""

_PAIRS_BODY = f"""
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
    FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS n_common
        FROM inv a JOIN inv b
          ON a.s = b.s AND a.doc_id < b.doc_id
         AND 2 * a.n_sh >= b.n_sh AND 2 * b.n_sh >= a.n_sh
        GROUP BY 1, 2, 3, 4)
    WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= {_JACCARD_T}
"""

_PAIRS_SQL = f"""
    WITH inv AS ({_INV_SQL})
    {_PAIRS_BODY}
"""


@query(
    "llm_dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per byte-identical text.

    Groups on sha256(text) so the shuffle key is a fixed 32-byte digest
    instead of the document body — at 100 TB the shuffle is ~0.03% of
    corpus size. The oracle groups on raw text (semantically identical
    barring a SHA-256 collision).
    """
    return (
        load_documents_wide(spark, sf_dir)
        .groupBy(F.sha2(F.col("text"), 256).alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .drop("_h")
    )


@query(
    "llm_dedup_ngram",
    # the oracle replays the SAME inverted-index shape (see _PAIRS_SQL
    # comment): equal results, linear-in-overlap cost.
    oracle=_PAIRS_SQL,
)
def llm_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (J >= 0.5), upper triangle,
    via an INVERTED-INDEX equi-join (set-similarity-join shape).

    Rather than nested-looping all O(n^2) pairs through array_intersect,
    explode each document's distinct shingles and hash-join shingle
    occurrences with themselves: a pair appears once per SHARED shingle,
    so counting rows per (doc_a, doc_b) IS the intersection size, and
    Jaccard follows from the two set sizes. Work is sum over shingles of
    df^2 — proportional to actual overlap, not to n^2 — and every stage
    is an equi-join/hash-agg that shuffles on shingle/pair keys (the
    shape that scales to 100 TB; measured 23x faster than the
    nested-loop+intersect plan at sf0.1). Pairs sharing no shingle have
    J=0 and are never materialized — exactly the pairs the threshold
    discards. The size-ratio filter (an exact necessary condition for
    J >= 0.5) prunes before the count-agg.
    """
    # The inverted index carries xxhash64(shingle) longs, not shingle
    # strings: the join/groupBy shuffle keys shrink ~3x and hash-compare
    # as single longs. Counting common hashes == counting common shingles
    # unless two distinct shingles collide in 2^64 (P ~ n_shingles^2/2^65
    # per doc-pair — astronomically small, and deterministic given fixed
    # xxhash64, so the exact-string oracle parity check would catch it).
    # Materialized once per session (hashed_index_cached) so the
    # self-join's two sides — and the sibling recall-audit/contamination
    # keys — reuse one tokenize+shingle+explode pass: the "build the
    # index, then join the index" split, index size ~2% of corpus.
    inv = hashed_index_cached(spark, sf_dir)
    a = inv.select(
        F.col("sh_h"), F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    b = inv.select(
        F.col("sh_h"), F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    pairs = a.join(b, "sh_h").filter(
        (F.col("doc_a") < F.col("doc_b"))
        & (2 * F.col("n_a") >= F.col("n_b"))
        & (2 * F.col("n_b") >= F.col("n_a"))
    )
    common = pairs.groupBy("doc_a", "doc_b", "n_a", "n_b").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        common.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_T)
    )


def _minhash_sig() -> F.Column:
    """32-element MinHash signature over the ``shingles`` column.

    Permutation i is xxhash64(shingle, seed=i); the signature element is
    the min over shingles — all inside whole-stage codegen, no UDF.
    """
    return F.array(
        *[
            F.array_min(F.expr(f"transform(shingles, s -> xxhash64(s, {i}))"))
            for i in range(_MINHASH_K)
        ]
    )


def lsh_candidates(sh: DataFrame) -> DataFrame:
    """LSH candidate pairs from a (doc_id, sig) frame: explode the
    {_BANDS} band keys, self-join on (band_id, band_hash), distinct
    upper-triangle pairs. Shared by llm_dedup_near (which then verifies
    exact Jaccard) and llm_lsh_recall_audit (which measures this stage's
    recall against the exact pair set)."""
    bands = sh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_id"),
                        F.xxhash64(
                            *[
                                F.element_at("sig", j * _ROWS_PER_BAND + k + 1)
                                for k in range(_ROWS_PER_BAND)
                            ],
                            F.lit(j),
                        ).alias("band_hash"),
                    )
                    for j in range(_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")
    return (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


# The minhash-signed shingle frame (doc_id, shingles, sig) feeds BOTH
# sides of lsh_candidates' band self-join in llm_dedup_near AND the
# recall audit's candidate replay; without materialization the 32-hash
# permutation expression is evaluated once per join side per run.  Same
# build-once discipline as hashed_index_cached.
_MINHASH_SIG_CACHE: dict[tuple[str, str], DataFrame] = {}


def minhash_signed_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..utils import session_cached

    return session_cached(
        _MINHASH_SIG_CACHE,
        spark,
        sf_dir,
        lambda: shingled_cached(spark, sf_dir)
        .withColumn("sig", _minhash_sig())
        .localCheckpoint(eager=True),
    )


@query(
    "llm_dedup_near",
    # exact all-pairs ground truth, spelled as the inverted-index join
    # (identical result set — see _PAIRS_SQL comment).
    oracle=_PAIRS_SQL,
)
def llm_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard-verified (J >= 0.5).

    The oracle is the EXACT all-pairs result: LSH candidate generation is
    probabilistic in general, but with 8x4 banding its recall on the
    driver fixtures is measured 100% at every scale tier (and the run is
    fully deterministic — fixed xxhash64 permutations), so the output
    hash-matches the exact set. Precision is structurally 1.0 (the
    verify stage recomputes exact Jaccard).

    Recall boundary, measured (round-12 sf1 rung): the driver fixtures
    contain no near-dup pairs below J~0.95, which is WHY recall is 100%
    there. The 10x rung's adversarial replication creates pair mass
    across J in [0.5, 1]; against its exact oracle this implementation
    measured precision 1.0, recall 0.99939 overall, with per-J recall
    tracking the banding formula 1-(1-J^4)^8 almost exactly (0.966
    measured vs 0.952 theory at J~0.7; 0.988 vs 0.985 at 0.8; 0.99975
    vs 0.99985 at 0.9). That curve — not 100% — is the honest 100 TB
    claim; `llm_lsh_recall_audit` adjudicates it as a first-class key,
    and tools/sf1_rung.py re-measures it each rung run.

    Scale shape (the 100 TB path, VERDICT.md round 1): shingle -> minhash
    (map-only) -> explode 8 band keys -> self-join on (band, band_hash) ->
    distinct candidate pairs -> verify exact Jaccard. Every stage is a
    shuffle op keyed on small fixed-width values; nothing is quadratic
    except within a band bucket, and bucket sizes are bounded by collision
    probability. Candidate recall at J=0.9 is ~0.9998 with 8x4 banding.
    """
    sh = minhash_signed_cached(spark, sf_dir)
    cand = lsh_candidates(sh)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_T)
    )


# SimHash: sign-sum fingerprint computed as a nested higher-order
# aggregate (outer over bit positions, inner over token hashes) — no UDF.
#
# Every ingredient is exact integer arithmetic both engines share, which
# is what makes the key oracle-able:
# - token hash: polynomial fold (acc*31 + codepoint) % (2^31 - 1) — the
#   llm_fingerprint pattern, verified bit-exact vs DuckDB list_reduce;
# - per-token 60-bit sign pattern: ONE Knuth multiply of the poly hash,
#   (h * 2654435761) % 2^60 — max intermediate ~2^62.3, so no BIGINT
#   overflow in either engine (DuckDB errors on overflow, Spark silently
#   wraps — staying under 2^63 keeps them identical). Mixing once per
#   TOKEN keeps the 60 x n_tokens inner loop at a cheap (h >> b) & 1
#   (a per-(hash,bit) multiplicative hash measured 2x slower);
# - 60-bit fingerprint (not 64): bit 63 would flip the BIGINT sign in
#   Spark but overflow-error in DuckDB's 1<<63.
_SIMHASH_BITS = 60
_TOKHASH_EXPR = (
    "transform(array_distinct(toks), t -> "
    "(aggregate(transform(filter(split(t, ''), c -> c <> ''), c -> cast(ascii(c) as bigint)), "
    "cast(0 as bigint), (acc, c) -> (acc * 31 + c) % 2147483647)"
    " * 2654435761) % 1152921504606846976)"
)
_SIMHASH_EXPR = (
    f"aggregate(sequence(0, {_SIMHASH_BITS - 1}), cast(0 as bigint), (acc, b) -> acc + "
    "if(aggregate(hashes, 0, (s, h) -> s + if((shiftright(h, b) & 1) = 1, 1, -1)) > 0, "
    "shiftleft(cast(1 as bigint), b), cast(0 as bigint)))"
)
_HAMMING_T = 10
_BLOCK_BITS = 15  # 4 blocks x 15 bits cover the 60-bit fingerprint

# Distinct-fp cap per block bucket before the bucket is SUB-BLOCKED
# across tasks (round-14 VERDICT task 2: at sf10 one block bucket holds
# most of the corpus, and a whole bucket used to run inside a single
# applyInPandas task — the O(d^2)-popcount verify floor of the densest
# bucket was a single-task straggler at 1000x). Oversized buckets split
# by the 15 3-bit fingerprint chunks OUTSIDE the matched block: members
# agree on the block's 15 bits, so a Hamming<=10 pair differs in <=10
# of the other 15 chunks and shares >=5 of them exactly (pigeonhole,
# same argument as the top-level blocking — Manku et al.'s
# permute-and-split tables). Every qualifying edge therefore lands in
# >=1 shared (sub_id, sub_key) sub-bucket and the existing star-edge
# propagation unions the sub-components. 16384^2 popcounts ~ 0.3 s
# vectorized: sub-second tasks, and sf<=0.1 buckets never hit the cap.
_BUCKET_CAP = 16384
_SUB_CHUNKS = 20  # 3-bit chunks over the 60-bit fingerprint
_CHUNKS_PER_BLOCK = 5  # block j covers chunks 5j..5j+4

# The 16-byte/doc (doc_id, simhash) fingerprint table, materialized once
# per (session, scale): both sides of the block self-join — and any
# future consumer — reuse it instead of re-running tokenize+hash+fold.
# At 100 TB this is exactly the "compute fingerprints, then join
# fingerprints" pipeline split; the materialized set is ~0.01% of
# corpus size.
_SIMHASH_FP_CACHE: dict[tuple[str, str], DataFrame] = {}


def _simhash_fp_kernel(batches):
    """Arrow-batched fingerprint kernel: (doc_id, toks array<string>,
    distinct per doc) -> (doc_id, simhash). Bit-exact twin of the
    _TOKHASH_EXPR + _SIMHASH_EXPR SQL pipeline (and of the DuckDB
    oracle CTEs), which Spark evaluates as INTERPRETED per-element
    higher-order functions — profiled at sf100 the fingerprint map was
    549 s of the 811 s label wall (round-14 VERDICT task 6). Here the
    polynomial token hash runs once per DISTINCT token per worker (a
    process-lifetime memo — near-dup corpora reuse tokens massively)
    and the 60-bit majority vote is 60 vectorized segment-sums.

    Exactness: hash(t) = (fold(acc*31 + codepoint) mod 2147483647) *
    2654435761 mod 2^60 — every intermediate < 2^63, plain python ints
    in the memo fill, int64 numpy after. Bit b of the fingerprint is
    set iff sum over token hashes of +/-1 on bit b is > 0, i.e.
    2*popcount_b - n > 0 — computed as a per-doc reduceat of bit b's
    0/1 column, identical to the SQL aggregate's fold."""
    import numpy as np

    import pandas as pd

    memo: dict[str, int] = {}
    for pdf in batches:
        n_docs = len(pdf)
        if not n_docs:
            continue
        counts = np.empty(n_docs, np.int64)
        flat_parts: list[int] = []
        for i, toks in enumerate(pdf["toks"]):
            counts[i] = len(toks)
            for t in toks:
                h = memo.get(t)
                if h is None:
                    acc = 0
                    for ch in t:
                        acc = (acc * 31 + ord(ch)) % 2147483647
                    h = (acc * 2654435761) % (1 << 60)
                    # bound worker memory on high-diversity corpora:
                    # past ~1M distinct tokens, hash without caching
                    # (the memo's value is repeat tokens anyway)
                    if len(memo) < 1 << 20:
                        memo[t] = h
                flat_parts.append(h)
        flat = np.array(flat_parts, dtype=np.uint64)
        offs = np.zeros(n_docs, np.int64)
        np.cumsum(counts[:-1], out=offs[1:])
        fp = np.zeros(n_docs, np.uint64)
        for b in range(_SIMHASH_BITS):
            ones = ((flat >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
            cnt = np.add.reduceat(ones, offs)
            # sum of +/-1 votes = 2*ones - n; > 0 sets the bit
            fp |= ((2 * cnt > counts).astype(np.uint64)) << np.uint64(b)
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].to_numpy(np.int64),
             "simhash": fp.view(np.int64)}
        )


def _fp_plan_from_docs(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Fingerprint plan over any (doc_id, text) relation: Spark-native
    tokenize (lower/split/filter keep Java regex + lowercase semantics —
    a Python re.split twin would diverge on Unicode space classes) +
    array_distinct, then the vectorized kernel. Shared by the corpus
    keys (documents fixture) and the hard-topology key (generated
    fragmenting corpus)."""
    return (
        docs.filter(F.trim(F.col("text")) != "")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.array_distinct(F.expr(_TOKS)).alias("toks"))
        .mapInPandas(_simhash_fp_kernel, "doc_id bigint, simhash bigint")
    )


def _simhash_fp_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fp_plan_from_docs(spark, load_documents_wide(spark, sf_dir))


def _simhash_fp_expr_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The original pure-SQL-expression fingerprint pipeline, kept as
    the kernel's in-repo parity twin (tests/test_dedup_consistency.py
    pins bit-exact equality) and as the line-by-line mirror of the
    DuckDB oracle CTEs."""
    return (
        load_documents_wide(spark, sf_dir)
        .filter(F.trim(F.col("text")) != "")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .withColumn("toks", F.expr(_TOKS))
        .select("doc_id", F.expr(_TOKHASH_EXPR).alias("hashes"))
        .select("doc_id", F.expr(_SIMHASH_EXPR).alias("simhash"))
    )


def simhash_fingerprints_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..utils import session_cached

    def build() -> DataFrame:
        # Empty-token docs are excluded via trim(text) <> '' — exactly
        # equivalent to size(hashes) > 0 (tokens are empty iff the text
        # is all whitespace) but cheap when Catalyst pushes it down to
        # the scan; a filter on size(hashes) would be substituted below
        # the repartition and re-run tokenize+hash per row inside the
        # predicate (measured 3x cost of the whole stage).
        return _simhash_fp_plan(spark, sf_dir).localCheckpoint(eager=True)

    return session_cached(_SIMHASH_FP_CACHE, spark, sf_dir, build)


# tok/fp/blocks CTE chain shared by the simhash PAIR oracle and the
# simhash LABEL oracles — one definition so the keys can never verify
# against divergent fingerprint pipelines. _simhash_ctes(src) swaps the
# source relation (the hard-topology key fingerprints a generated CTE
# instead of the documents view).
def _simhash_ctes(src: str) -> str:
    return _SIMHASH_CTES.replace("FROM documents WHERE", f"FROM {src} WHERE", 1)


_SIMHASH_CTES = f"""tok AS (
        SELECT doc_id,
               list_transform(
                   list_distinct(list_filter(
                       string_split_regex(lower(text), '\\s+'), t -> t <> '')),
                   t -> (list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(
                               list_filter(string_split(t, ''), c -> c <> ''),
                               c -> CAST(ascii(c) AS BIGINT))),
                       (acc, c) -> (acc * 31 + c) % 2147483647)
                     * 2654435761) % 1152921504606846976) AS hashes
        FROM documents WHERE trim(text) <> ''),
    fp AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(0, {_SIMHASH_BITS}), b ->
                           CASE WHEN list_reduce(
                                    list_prepend(0,
                                        list_transform(hashes, h ->
                                            CASE WHEN ((h >> b) & 1) = 1
                                                 THEN 1 ELSE -1 END)),
                                    (s, x) -> s + x) > 0
                                THEN (CAST(1 AS BIGINT) << b)
                                ELSE CAST(0 AS BIGINT) END)),
                   (acc, x) -> acc + x) AS simhash
        FROM tok),
    blocks AS (
        SELECT doc_id, simhash, j.block_id,
               (simhash >> (j.block_id * {_BLOCK_BITS})) & {2**_BLOCK_BITS - 1} AS block_key
        FROM fp, (SELECT unnest(range(0, 4)) AS block_id) j)"""


@query(
    "llm_dedup_simhash",
    oracle=f"""
    WITH {_SIMHASH_CTES}
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
    FROM blocks x JOIN blocks y
      ON x.block_id = y.block_id AND x.block_key = y.block_key
     AND x.doc_id < y.doc_id
    WHERE bit_count(xor(x.simhash, y.simhash)) <= {_HAMMING_T}
    """,
)
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit fingerprint, band-blocked Hamming.

    Blocking on the four 15-bit quarters guarantees any pair with Hamming
    distance <= 3 shares a block (pigeonhole); the verify stage keeps
    pairs with distance <= 10, trading a little recall in 4..10 for a
    linear-shuffle plan. Fingerprints are 8 bytes/doc — at 100 TB the
    entire candidate structure is ~0.01% of corpus size.

    Scale boundary, measured (round-12 sf1 rung): the PLAN is linear-
    shuffle, but the OUTPUT is a pair list whose size is a data
    property. On the driver's synthetic corpus the shared template
    vocabulary concentrates fingerprints, so ~40% of ALL doc pairs sit
    within Hamming 10 at every tier — 48,957 pairs at n=500, 5.05M at
    n=5,000, 544,259,317 at n=50,000 (and one 15-bit block bucket holds
    75% of the 50k corpus, 705M candidate pairs). Any implementation
    must emit that set; the quadratic mass is the threshold-x-corpus
    combination, not the blocking. The 100 TB deliverable for a corpus
    this homogeneous is therefore never the materialized pair list —
    compose the fingerprints into cluster labels / keep-first verdicts
    (`llm_dedup_cluster`'s shape) or tighten the Hamming threshold;
    tools/sf1_rung.py adjudicates this key at 10x by engine-side
    exact-integer checksum for exactly this reason.

    Hash-checked: token hashes and hyperplane signs are exact-integer
    expressions (see module constants) that DuckDB replays verbatim, so
    the oracle verifies fingerprints, blocking, and Hamming verify
    bit-exactly.
    """
    return _simhash_pairs(spark, sf_dir)


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified (doc_a, doc_b, hamming) pair set: 15-bit band block →
    equi-self-join → exact Hamming verify. Shared by the pair-list key
    (llm_dedup_simhash) and the label key (llm_dedup_simhash_labels) so
    both deliverables are over the identical verified graph."""
    docs = simhash_fingerprints_cached(spark, sf_dir)
    blocks = docs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("block_id"),
                        F.shiftright("simhash", j * _BLOCK_BITS)
                        .bitwiseAND(F.lit(2**_BLOCK_BITS - 1))
                        .alias("block_key"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("blk"),
    ).select("doc_id", "simhash", "blk.block_id", "blk.block_key")

    hamming = F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
    return (
        blocks.alias("x")
        .join(
            blocks.alias("y"),
            (F.col("x.block_id") == F.col("y.block_id"))
            & (F.col("x.block_key") == F.col("y.block_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= _HAMMING_T)
        .distinct()
    )


def _popcount64(x):
    """Vectorized 64-bit popcount (SWAR) over a numpy uint64 array —
    numpy 1.26 has no ``bitwise_count``; this is the classic
    shift-mask-multiply spelling, ~5 vector ops, no lookup-table memory
    traffic."""
    import numpy as np

    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    x = x - ((x >> np.uint64(1)) & m1)
    x = (x & m2) + ((x >> np.uint64(2)) & m2)
    x = (x + (x >> np.uint64(4))) & m4
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


def _bucket_cc_edges(pdf):
    """Exact connected components of ONE block bucket's Hamming<=T graph
    over DISTINCT fingerprints, emitted as LINEAR star edges
    (component-min min_doc -> member min_doc, one row per non-root
    member) instead of the quadratic pair list.

    Batched-BFS: a frontier batch's XOR+popcount against every
    still-unassigned fingerprint is one vectorized numpy pass (SWAR
    popcount, chunked so temporaries stay ~35 MB), and a node leaves the
    candidate pool the moment it joins a component — the dense
    near-duplicate clusters that make the pair list quadratic are
    exactly the ones BFS absorbs in one or two rounds. Worst case is
    still O(d^2) popcounts for d distinct fingerprints in the bucket
    (that is the verify lower bound — Hamming is pairwise), but nothing
    quadratic is ever materialized: no edge list, no distance matrix.
    """
    import numpy as np
    import pandas as pd

    fp = pdf["simhash"].to_numpy(np.int64).view(np.uint64)
    md = pdf["min_doc"].to_numpy(np.int64)
    n = len(fp)
    t = np.uint64(_HAMMING_T)
    comp = np.full(n, -1, np.int64)
    out_a: list[int] = []
    out_b: list[int] = []
    for seed in range(n):
        if comp[seed] >= 0:
            continue
        comp[seed] = seed
        members = [seed]
        frontier = np.array([seed], np.int64)
        while frontier.size:
            rem = np.flatnonzero(comp < 0)
            if rem.size == 0:
                break
            hit = np.zeros(rem.size, bool)
            for i in range(0, frontier.size, 32):
                fb = fp[frontier[i : i + 32]][:, None]
                for j in range(0, rem.size, 1 << 17):
                    sl = rem[j : j + (1 << 17)]
                    d = _popcount64(fb ^ fp[sl][None, :])
                    hit[j : j + sl.size] |= (d <= t).any(axis=0)
            frontier = rem[hit]
            comp[frontier] = seed
            members.extend(frontier.tolist())
        if len(members) > 1:
            mm = md[members]
            rep = int(mm.min())
            out_a.extend(rep for v in mm if v != rep)
            out_b.extend(int(v) for v in mm if v != rep)
    return pd.DataFrame({"doc_a": out_a, "doc_b": out_b})


def _bucket_group_cc_edges(pdf):
    """Kernel for a HASH GROUP of whole (sub-)buckets: sub-group per
    (block_id, block_key, sub_id, sub_key) python-side and BFS each.
    Grouping Spark-side on a coarse hash of the bucket key instead of
    the bucket key itself cuts the Arrow/pandas per-group round-trips
    from one per bucket (~11k tiny frames at sf0.1 — measured ~5 s of
    pure overhead) to one per core-slot; every bucket still lands whole
    in exactly one group. sub_id = -1 marks an unsplit bucket; split
    buckets arrive as 15 pigeonhole sub-buckets whose star edges are
    CONSOLIDATED here with a linear union-find so the emitted graph
    stays one edge per non-root node per group instead of ~15x
    duplicated across sub-buckets."""
    import pandas as pd

    frames = [
        _bucket_cc_edges(sub)
        for _, sub in pdf.groupby(
            ["block_id", "block_key", "sub_id", "sub_key"], sort=False
        )
        if len(sub) > 1
    ]
    if not frames:
        return pd.DataFrame({"doc_a": pd.Series(dtype="int64"),
                             "doc_b": pd.Series(dtype="int64")})
    return _consolidate_star_edges(pd.concat(frames, ignore_index=True))


def _consolidate_star_edges(edges):
    """Linear union-find over a pandas (doc_a, doc_b) star-edge frame,
    re-emitted as one (component-min -> member) row per non-root node.
    Overlapping sub-bucket components collapse in-memory before anything
    is shuffled — the global propagation then sees a minimal star graph
    per group (cross-group unions still happen in
    _propagate_min_labels, as before)."""
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(edges["doc_a"].to_numpy(), edges["doc_b"].to_numpy()):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            # union by VALUE: the root is always the component minimum,
            # so the emitted star edges keep min-label semantics
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    out_a = []
    out_b = []
    for node in parent:
        root = find(node)
        if root != node:
            out_a.append(root)
            out_b.append(node)
    return pd.DataFrame(
        {"doc_a": pd.Series(out_a, dtype="int64"),
         "doc_b": pd.Series(out_b, dtype="int64")}
    )


def _simhash_star_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR star-edge relation of the simhash Hamming graph: one
    (component-min, member) row per non-root bucket-component member,
    over DISTINCT fingerprints — at most one row per (node, hash group)
    after in-kernel consolidation, so O(|distinct fp|) rows total,
    versus the data-quadratic verified pair list (544M rows at sf1,
    ~9e9 at sf10 even after fp-collapse: measured distinct-fp counts are
    29,741 of 50k docs at sf1 and 216,443 of 500k at sf10, so collapsing
    alone only halves the graph). Connectivity is EXACTLY the pair
    graph's: any Hamming<=T pair shares a block (same blocking), both
    endpoints land in that bucket's BFS component, and docs sharing a
    fingerprint meet at their min_doc node."""
    fps = simhash_fingerprints_cached(spark, sf_dir)
    return _star_edges_from_dfp(
        spark, fps.groupBy("simhash").agg(F.min("doc_id").alias("min_doc"))
    )


def _star_edges_from_dfp(spark: SparkSession, dfp: DataFrame) -> DataFrame:
    keyed = _keyed_blocks(dfp)
    n_groups = 8 * spark.sparkContext.defaultParallelism
    return (
        keyed.withColumn(
            "grp",
            F.pmod(
                F.hash("block_id", "block_key", "sub_id", "sub_key"),
                F.lit(n_groups),
            ),
        )
        .groupBy("grp")
        .applyInPandas(_bucket_group_cc_edges, "doc_a bigint, doc_b bigint")
        .distinct()
    )


def _keyed_blocks(dfp: DataFrame) -> DataFrame:
    """(simhash, min_doc) -> the (block, sub-bucket)-keyed relation the
    CC kernel groups on: one row per (fp, block) for buckets at or under
    _BUCKET_CAP distinct fps (sentinel sub key (-1, 0)), 15 rows per
    (fp, block) — one per pigeonhole sub-chunk — for oversized ones.

    The constant-size array literals are BUILT as SQL strings parsed by
    single F.expr calls (round-19; the _km_cost_array precedent): the
    Column-API spelling issued one py4j round-trip per struct field +
    lambda conversion — measured ~0.6 s of pure driver-side construction
    per labels key. The parsed trees compute the identical values
    (integer literals, same shiftright/& arithmetic, same field types)."""
    blocks = dfp.select(
        "simhash",
        "min_doc",
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"named_struct('block_id', {j}, 'block_key', "
                    f"shiftright(simhash, {j * _BLOCK_BITS}) & "
                    f"CAST({2**_BLOCK_BITS - 1} AS BIGINT))"
                    for j in range(4)
                )
                + ")"
            )
        ).alias("blk"),
    ).select("simhash", "min_doc", "blk.block_id", "blk.block_key")
    # Task-granularity cap (round-14 VERDICT task 2): the split decision
    # is PLANNED here, driver-side, from a per-bucket distinct-fp count,
    # so an oversized bucket fans its 15 pigeonhole sub-buckets across
    # different hash groups (= different tasks) instead of sub-splitting
    # inside one task. Unsplit buckets keep the sentinel (-1, 0) sub key
    # — their plan is byte-identical to the pre-cap one. The per-row
    # 20-element array filter is an interpreted HOF, but over a
    # constant-size array per row (not per row-pair) it is noise next
    # to the popcount verify it bounds.
    sub_chunks = F.expr(
        "filter(array("
        + ", ".join(
            f"named_struct('sub_id', {c}, 'sub_key', "
            f"shiftright(simhash, {c * 3}) & CAST(7 AS BIGINT))"
            for c in range(_SUB_CHUNKS)
        )
        + "), s -> NOT (s.sub_id >= block_id * "
        + str(_CHUNKS_PER_BLOCK)
        + f" AND s.sub_id < (block_id + 1) * {_CHUNKS_PER_BLOCK}))"
    )
    whole = F.expr(
        "array(named_struct('sub_id', -1, 'sub_key', CAST(0 AS BIGINT)))"
    )
    from pyspark.sql import Window

    keyed = (
        blocks.withColumn(
            "d", F.count("*").over(Window.partitionBy("block_id", "block_key"))
        )
        .withColumn(
            "sub",
            F.explode(
                F.when(F.col("d") > _BUCKET_CAP, sub_chunks).otherwise(whole)
            ),
        )
        .select(
            "simhash",
            "min_doc",
            "block_id",
            "block_key",
            F.col("sub.sub_id").alias("sub_id"),
            F.col("sub.sub_key").alias("sub_key"),
        )
    )
    return keyed


# Converged (doc_id, cluster_id, keep) labels, one materialization per
# (session, scale): the propagation loop is a multi-job iteration whose
# output is a stable derived artifact — the rung's wall pass and
# comparator pass (and any downstream consumer) share it (round-13
# ADVICE; same pattern as dedup_clusters_cached).
_SIMHASH_LABELS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _labels_from_fps(spark: SparkSession, fps: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, keep) from a fingerprint relation: distinct-fp
    collapse -> bucket-CC star edges -> min-label propagation -> map docs
    back through their fingerprint's min_doc."""
    # ONE dfp derivation for both consumers (round-18 "Not yet
    # optimized" item 3): the star-edge pipeline and the final doc->label
    # mapping join both read the distinct-fp relation, and the two
    # references meet in a join, so the lazy groupBy executed twice per
    # labels key. Eager localCheckpoint materializes it once — it is
    # |distinct fp|-bounded (<= one row per doc; 216 k at sf10), the
    # same linear artifact the pipeline shuffles anyway.
    dfp = (
        fps.groupBy("simhash")
        .agg(F.min("doc_id").alias("min_doc"))
        .localCheckpoint(eager=True)
    )
    labels = _propagate_min_labels(_star_edges_from_dfp(spark, dfp))
    lab = F.coalesce(F.col("label"), F.col("min_doc"))
    return (
        fps.join(dfp, "simhash")
        .join(labels, F.col("min_doc") == labels.node, "left")
        .select(
            "doc_id",
            lab.alias("cluster_id"),
            (lab == F.col("doc_id")).alias("keep"),
        )
        .localCheckpoint(eager=True)
    )


def simhash_labels_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..utils import session_cached

    return session_cached(
        _SIMHASH_LABELS_CACHE,
        spark,
        sf_dir,
        lambda: _labels_from_fps(
            spark, simhash_fingerprints_cached(spark, sf_dir)
        ),
    )


def _labels_oracle(ctes: str) -> str:
    """Component-label oracle over any CTE chain ending in fp/blocks:
    exact pair derivation + recursive reachability + min-label — shared
    by the corpus labels key and the hard-topology labels key."""
    return f"""
    WITH RECURSIVE {ctes},
    pairs AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM blocks x JOIN blocks y
          ON x.block_id = y.block_id AND x.block_key = y.block_key
         AND x.doc_id < y.doc_id
        WHERE bit_count(xor(x.simhash, y.simhash)) <= {_HAMMING_T}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM pairs),
    reach(u, v) AS (
        SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
    lab AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u)
    SELECT f.doc_id,
           COALESCE(l.cluster_id, f.doc_id) AS cluster_id,
           (COALESCE(l.cluster_id, f.doc_id) = f.doc_id) AS keep
    FROM fp f LEFT JOIN lab l ON f.doc_id = l.doc_id
    """


@query("llm_dedup_simhash_labels", oracle=_labels_oracle(_SIMHASH_CTES))
def llm_dedup_simhash_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash dedup as LINEAR-OUTPUT cluster labels — the 100 TB
    deliverable of the simhash family (round-12 VERDICT task 1).

    One row per non-empty document: (doc_id, cluster_id, keep), where
    cluster_id is the lowest doc_id in the document's connected component
    of the Hamming<=10 graph (same blocking + threshold as
    llm_dedup_simhash) and keep marks the canonical representative
    (singletons keep themselves).

    Round-14 redesign — NOTHING quadratic is materialized anymore. The
    round-13 implementation composed the verified PAIR LIST (544M rows
    at sf1) into components; at sf10 that pair list is ~9e9 rows even
    after collapsing to distinct fingerprints (measured: 216,443
    distinct fps among 500k docs, ~40% pair density) — 150+ GB of
    DISK_ONLY edges, infeasible on one node and pure waste on a
    cluster. Connected components never needed the full edge set, only
    a SPANNING subgraph, so the plan is now:

    1. collapse to distinct fingerprints with their min doc_id
       (groupBy — docs sharing a fingerprint are Hamming-0 connected);
    2. per block bucket, compute the bucket's exact Hamming<=T
       components over distinct fps with a batched-BFS numpy kernel
       (applyInPandas — the one genuinely non-relational step; the
       pairwise verify work is the same O(d^2) popcounts the join did,
       but vectorized in C and never materialized) and emit LINEAR star
       edges (component-min -> member), <= 4 x |distinct fp| rows;
    3. min-label-propagate over the tiny star graph
       (_propagate_min_labels, 2-5 shuffle-join rounds on <=866k rows
       at sf10 instead of 544M+ pair rows at sf1);
    4. map docs back through their fingerprint's min_doc.

    Step 2's bucket groups are the corpus' fingerprint distribution —
    the biggest sf10 bucket holds most of the corpus (measured skew),
    which is exactly the dense near-dup mass BFS absorbs in a couple of
    vectorized rounds. A bucket larger than _BUCKET_CAP distinct fps is
    further split into 15 pigeonhole sub-buckets on the 3-bit chunks
    outside its matched block (round-14 VERDICT task 2), fanning the
    densest bucket's verify floor across tasks instead of leaving it a
    single-task straggler; everything shuffled or persisted stays
    linear in document count.

    Oracle: DuckDB replays the exact-integer fingerprint pipeline
    (shared _SIMHASH_CTES), re-derives the pair set, and computes
    components via a recursive reachability CTE — labels verify
    bit-exactly, including the keep flag (and tools/sf1_rung.py
    re-verifies against an independent iterated fixpoint over all 544M
    sf1 pairs). Cached per (session, scale) so the rung's wall pass and
    comparator pass share one propagation (round-13 ADVICE).
    """
    return simhash_labels_cached(spark, sf_dir)


# --- hard-topology labels: a FRAGMENTING corpus in the driver tier ----
#
# The documents fixture collapses to near-one component (its template
# families share vocabulary), so the labels oracle there mostly proves
# "everything connected" — a trivially over-merging engine could pass
# it. The rung tools exercise the fragmenting case (tools/make_hard_docs
# + exhaustive fixpoints), but only out-of-band. This key brings that
# topology into EVERY driver verify (round-15 VERDICT task 6): a
# generated corpus of token-perturbed families whose intra-family
# Hamming distances straddle the <=10 threshold (measured at the
# sf0.01-sized instance: 520 docs -> 99 clusters, 59 singletons, max
# cluster 12, 857 pairs at Hamming 8-10 and 645 just-over at 11-14).
#
# The corpus is pure integer arithmetic over a row range — both engines
# derive it independently from the SAME expressions (the _SIMHASH_CTES
# parity discipline), sized from COUNT(documents) so it scales with the
# tier. Family f's base doc is 30 tokens 'w<(f*48271 + j*40503) %
# 999983>'; member m replaces 0-3 positions ((f + 7m) mod 4, cycling
# through families AND members so every family carries a mix) with
# family-and-member-keyed replacement tokens from a disjoint id range;
# the last nf ids are fresh-vocabulary singletons.
_HARD_M = 12  # members per family
# families = max(4, |documents| / 12): the sf0.01 driver tier (500 docs)
# generates 41 families + 41 singletons = 533 docs — the topology
# measured in the block comment; higher tiers scale linearly with the
# fixture (sf0.1 -> ~5.4k docs, sf1 -> ~54k).
_HARD_FAM_DIV = 12


def _hard_tok_case() -> str:
    """Token id for (row d, position j) — shared Spark/DuckDB SQL over
    columns d (row id), fm (families*members), lambda var j."""
    m = f"(d % {_HARD_M})"
    f = f"CAST((d - {m}) / {_HARD_M} AS BIGINT)"
    nrep = f"(({f} + {m} * 7) % 4)"
    rep = lambda off: f"1000000 + ({f} * 48271 + {m} * 1009 + {off}) % 999983"  # noqa: E731
    return (
        f"CASE WHEN d >= fm THEN 3000000 + ((d - fm) * 48271 + j * 40503) % 999983 "
        f"WHEN {nrep} >= 1 AND j = ({m} * 11) % 30 THEN {rep(0)} "
        f"WHEN {nrep} >= 2 AND j = ({m} * 11 + 7) % 30 THEN {rep(40503)} "
        f"WHEN {nrep} >= 3 AND j = ({m} * 11 + 14) % 30 THEN {rep(81006)} "
        f"ELSE ({f} * 48271 + j * 40503) % 999983 END"
    )


def _hard_docs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text) fragmenting corpus, sized from the tier's document
    count (one metadata-scale count job). spark.range is a parallel
    leaf, the text expression is codegen'd per row — no driver rows."""
    n_docs = load(spark, sf_dir, "documents").count()
    nf = max(4, n_docs // _HARD_FAM_DIV)
    ids = spark.range(nf * (_HARD_M + 1)).select(
        F.col("id").alias("d"), F.lit(nf * _HARD_M).alias("fm")
    )
    text = F.expr(
        "array_join(transform(sequence(0, 29), j -> "
        f"concat('w', {_hard_tok_case()})), ' ')"
    )
    return ids.select(F.col("d").alias("doc_id"), text.alias("text"))


def _hard_docs_ctes() -> str:
    """DuckDB twin of _hard_docs_df: params/ids/docs CTE chain."""
    return f"""params AS (
        SELECT GREATEST(4, CAST((c - (c % {_HARD_FAM_DIV})) / {_HARD_FAM_DIV}
                           AS BIGINT)) AS nf
        FROM (SELECT COUNT(*) AS c FROM documents)),
    ids AS (SELECT unnest(range(0, nf * {_HARD_M + 1})) AS d,
                   nf * {_HARD_M} AS fm
            FROM params),
    docs AS (
        SELECT d AS doc_id,
               array_to_string(list_transform(range(0, 30), j ->
                   concat('w', {_hard_tok_case()})), ' ') AS text
        FROM ids)"""


_HARD_LABELS_CACHE: dict[tuple[str, str], DataFrame] = {}


@query(
    "llm_dedup_simhash_labels_hard",
    oracle=_labels_oracle(
        _hard_docs_ctes() + ",\n    " + _simhash_ctes("docs")
    ),
)
def llm_dedup_simhash_labels_hard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_dedup_simhash_labels' pipeline — fingerprint kernel, bucket-CC
    star edges, min-label propagation — over the generated FRAGMENTING
    corpus (see the block comment above): multi-cluster truth with
    singletons and near-threshold families, adjudicated on every driver
    verify instead of only in the rung tools. Same linear-output scale
    shape as the main key; the corpus generator is a parallel range +
    codegen expression, so the key adds no driver-side or quadratic
    work."""
    from ..utils import session_cached

    return session_cached(
        _HARD_LABELS_CACHE,
        spark,
        sf_dir,
        lambda: _labels_from_fps(
            spark,
            _fp_plan_from_docs(spark, _hard_docs_df(spark, sf_dir))
            .localCheckpoint(eager=True),
        ),
    )


@query(
    "llm_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                                  c -> CAST(ascii(c) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 1000000007) AS fp,
           length(text) AS n_chars_fp
    FROM documents
    """,
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial fingerprint: fp = fold(31*acc + codepoint) mod p.

    Pure integer arithmetic folded left-to-right in both engines —
    bit-identical and oracle-checked (unlike xxhash64, which DuckDB lacks).
    Map-only; the shape a content-defined-chunking / incremental-dedup
    pipeline uses for cheap content addresses.
    """
    roll = F.aggregate(
        F.transform(
            F.filter(F.split(F.col("text"), ""), lambda c: c != ""),
            lambda c: F.ascii(c).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % 1000000007,
    )
    return load_documents_wide(spark, sf_dir).select(
        "doc_id", roll.alias("fp"), F.length("text").cast("long").alias("n_chars_fp")
    )




@query(
    "llm_dedup_cluster",
    oracle=f"""
    WITH RECURSIVE inv AS ({_INV_SQL}),
    pairs AS (
        SELECT doc_a, doc_b,
               CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
        FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS n_common
            FROM inv a JOIN inv b
              ON a.s = b.s AND a.doc_id < b.doc_id
             AND 2 * a.n_sh >= b.n_sh AND 2 * b.n_sh >= a.n_sh
            GROUP BY 1, 2, 3, 4)
        WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= {_JACCARD_T}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM pairs),
    reach(u, v) AS (
        SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u)
    SELECT u AS doc_id, MIN(v) AS cluster_id,
           (u = MIN(v)) AS keep
    FROM reach GROUP BY u
    """,
)
def llm_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the verified pair
    graph, canonical representative = lowest doc_id per component — the
    step a dedup pipeline runs after pair generation to decide which
    rows to keep (``keep`` marks the representative).

    Distributed min-label propagation: every node starts labeled with
    itself; each round takes the min label over neighbors; stops when no
    label changes (dup-cluster diameters are tiny, so 2-3 rounds). Each
    round is one shuffle join + aggregate — no driver-side graph, and
    ``localCheckpoint`` truncates the growing plan lineage so iteration
    cost stays flat. At billions of edges the same loop holds (this is
    large-star/small-star's core step); the oracle is DuckDB's recursive
    reachability CTE over the identical exact pair set.
    """
    return dedup_clusters_cached(spark, sf_dir)


_CLUSTER_CACHE: dict[tuple[str, str], DataFrame] = {}


def dedup_clusters_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The converged (doc_id, cluster_id, keep) label table, materialized
    once per (session, scale): the label-propagation loop is a multi-job
    driver-coordinated iteration whose output is a stable derived
    artifact — llm_dedup_cluster surfaces it and llm_curation_pipeline
    consumes it, the same share-the-derived-input pattern as
    hashed_index_cached."""
    from ..utils import session_cached

    return session_cached(_CLUSTER_CACHE, spark, sf_dir,
                          lambda: _cluster_labels(spark, sf_dir).localCheckpoint(eager=True))


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = llm_dedup_ngram(spark, sf_dir).select("doc_a", "doc_b")
    labels = _propagate_min_labels(p)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("keep"),
    )


# Pointer-doubling covers diameter ~2^rounds, so 40 rounds is beyond any
# graph that fits on hardware; module-level so the non-convergence guard
# stays testable (tests monkeypatch it down and assert the loud raise).
_PROPAGATE_MAX_ROUNDS = 40

# Edge lists at or below this take the driver-side union-find instead of
# the distributed loop: <=250k pairs is <=4 MB — bounded algorithm state
# (the k-means-centroid license), not data-plane collect. Module-level so
# tests can force the distributed path (monkeypatch to 0).
_DRIVER_UF_MAX_EDGES = 250_000


def _propagate_min_labels(pairs: DataFrame) -> DataFrame:
    """Distributed min-label propagation over an undirected pair graph:
    (doc_a, doc_b) pairs in, converged (node, label) out, label = the
    component's minimum node id. Only nodes appearing in >=1 pair are
    emitted — callers decide how to label singletons. Each round is one
    shuffle join + aggregate with localCheckpoint truncating lineage
    (large-star/small-star's core step); shared by llm_dedup_cluster
    (ngram-Jaccard graph) and llm_dedup_simhash_labels (Hamming graph).

    Memory shape (round-13 sf1 finding): the Hamming graph on the
    homogeneous rung corpus carries 544M pairs, and localCheckpointing
    the SYMMETRIZED edge list OOM'd an 8 GB local-mode heap twice — the
    checkpoint's unroll path stores DESERIALIZED rows, so even 4x-wider
    partitions blew the heap inside LocalRDDCheckpointData.doCheckpoint.
    So: materialize ONE pair direction only (reverse derived lazily per
    round — a free map that halves stored bytes), repartitioned 4x wider
    than session parallelism, persisted DISK_ONLY (serialized, streamed
    reads, heap-bounded at any pair count) and materialized by a single
    count. The small per-round LABEL table keeps using localCheckpoint —
    that is where lineage truncation matters. On a real cluster the same
    blocks spread over executors; DISK_ONLY is the local-mode analogue
    of "bigger than one node's memory"."""
    from pyspark import StorageLevel

    n = pairs.sparkSession.sparkContext.defaultParallelism
    # Cast ids to long up front so BOTH exit paths (driver union-find
    # below hardcodes "node long, label long"; the distributed loop
    # preserves input types) are schema-identical by construction — a
    # caller passing int32 doc ids gets long either way (round-15
    # ADVICE). Persist the UN-repartitioned single direction first: the
    # edge count decides the path, and the wide n*4 shuffle layout is
    # wasted work for graphs the union-find immediately collects.
    src = pairs.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
    ).persist(StorageLevel.DISK_ONLY)
    try:
        n_edges = src.count()
    except Exception:
        src.unpersist()
        raise
    if n_edges <= _DRIVER_UF_MAX_EDGES:
        # TINY graph: a driver-side union-find. The distributed loop's
        # per-round floor (join + aggregate + chase + checkpoint +
        # persist + changed-count = ~6 jobs) costs seconds even on a
        # 25-node graph; <=250k edges is <=4 MB of int64 pairs — five
        # orders of magnitude under driver limits and the same
        # bounded-state license the k-means centroid collect documents.
        # Result is bit-identical (component minimum is unique).
        try:
            tbl = src.toArrow()
        finally:
            src.unpersist()
        a = tbl.column("doc_a").to_numpy(zero_copy_only=False)
        b = tbl.column("doc_b").to_numpy(zero_copy_only=False)
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.setdefault(r, r) != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for u, v in zip(a.tolist(), b.tolist()):
            ru, rv = find(u), find(v)
            if ru != rv:
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru  # min-id root => label = component min
        rows = [(int(x), int(find(x))) for x in parent]
        # Broadcast hint, UF path ONLY: this label table is driver-held
        # and <=2x _DRIVER_UF_MAX_EDGES rows by construction (<=8 MB of
        # int64 pairs — the same bounded-state license as the collect
        # above), but createDataFrame parallelizes it into an RDD whose
        # stats Spark doesn't know, so consumers' label joins planned as
        # SortMergeJoin (2 exchanges + sorts of the big side). The
        # distributed exit below stays hint-free — at scale the label
        # table is data-sized and must shuffle.
        return F.broadcast(
            pairs.sparkSession.createDataFrame(rows, "node long, label long")
        )
    if n_edges < 1_000_000:
        # Tiny graph (e.g. the star-edge relation — <=4 x distinct
        # fingerprints): the wide DISK_ONLY layout sized for 544M-pair
        # graphs is pure scheduling overhead here — measured 11.9 s for
        # a 12k-edge propagation at 128+ partitions vs sub-second at 8.
        # localCheckpoint is safe again at this size (the r13 OOM was
        # the 544M-row deserialized unroll, not the mechanism).
        half = src.coalesce(8).localCheckpoint(eager=True)
        src.unpersist()
    else:
        # BIG graph: rebuild the persisted layout 4x wider than session
        # parallelism (streamed DISK_ONLY reads, heap-bounded — see the
        # docstring's r13 finding). Built FROM the persisted src blocks
        # so the pair pipeline runs once; src releases after the wide
        # copy materializes.
        half = src.repartition(n * 4, "doc_a").persist(StorageLevel.DISK_ONLY)
        half.count()
        src.unpersist()
    edges = half.union(
        half.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).withColumnsRenamed({"doc_a": "u", "doc_b": "v"})
    # Each round's label table is localCheckpoint'd (lineage truncation)
    # AND persisted (stats truncation): Spark 4's LogicalRDD INHERITS the
    # origin plan's size estimate, so checkpointing alone lets the
    # chase's self-join SQUARE the estimate every round — measured on
    # the hard-mode docs fixture, the optimizer ground minutes of
    # BigInteger multiplications per round and died at round ~23 with
    # "BigInteger would overflow supported range". A materialized
    # InMemoryRelation carries REAL (small, constant) stats, so the
    # per-round estimate stays flat; the superseded round unpersists,
    # which also stops checkpoint blocks accumulating across rounds.
    labels = (
        edges.select(F.col("u").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
        .persist()
    )
    changed = 0
    for _ in range(_PROPAGATE_MAX_ROUNDS):
        nbr = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = labels.join(nbr, labels.node == nbr.u, "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
            ).alias("label"),
        )
        # POINTER-DOUBLING chase (round-15, found by the hard-mode docs
        # fixture): plain neighbor-min advances a label ONE edge per
        # round, so a long thin component (the hard corpus has
        # accidental-collision chains with diameter > 20) needs
        # diameter-many rounds. Chasing label -> label-of-label each
        # round squares the effective propagation distance (the
        # pointer-jumping half of large-star/small-star), turning
        # diameter-D convergence into O(log D) rounds. Every label
        # value is a node id present in the labels table, so the
        # self-join always matches; coalesce keeps the row if not.
        new_labels = (
            stepped.alias("a")
            .join(
                stepped.select(
                    F.col("node").alias("pnode"), F.col("label").alias("plabel")
                ),
                F.col("a.label") == F.col("pnode"),
                "left",
            )
            .select(
                F.col("a.node").alias("node"),
                F.least(
                    F.col("a.label"), F.coalesce(F.col("plabel"), F.col("a.label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # With the chase step convergence needs ~log2(diameter) rounds,
        # so 40 covers any graph that fits on hardware — but if a future
        # edit breaks that, fail loudly, never ship almost-converged
        # labels as cluster ids (round-14 ADVICE). The last round's
        # label cache is leaked too without this unpersist (r15 ADVICE).
        labels.unpersist()
        half.unpersist()
        raise RuntimeError(
            "_propagate_min_labels: min-label propagation did not "
            f"converge within {_PROPAGATE_MAX_ROUNDS} pointer-doubling "
            f"rounds ({changed} labels still changing) — that should "
            "be impossible for any graph that fits on hardware; "
            "investigate."
        )
    # converged labels are checkpointed; the disk-persisted edge blocks
    # have no further consumer — release the executor storage. The
    # labels' persist() cache layer also releases here: the eager
    # localCheckpoint blocks keep the result materialized (and its
    # LogicalRDD stats flat), so returning an unpersisted DF leaks
    # nothing into long shared sessions that call this per key
    # (round-15 ADVICE).
    half.unpersist()
    labels.unpersist()
    return labels


@query(
    "llm_lsh_recall_audit",
    oracle=f"""
    WITH inv AS ({_INV_SQL}),
    exact AS ({_PAIRS_BODY})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           CAST(COUNT(*) AS BIGINT) AS n_recalled,
           CAST(1.0 AS DOUBLE) AS recall
    FROM exact
    """,
)
def llm_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECALL AUDIT for the LSH candidate stage: join the exact J>=0.5
    pair set (inverted-index ground truth) against the banded candidate
    pairs and measure what fraction the bands caught — the measurement a
    dedup pipeline runs before trusting LSH at a new threshold/corpus.

    This turns llm_dedup_near's "recall is 100% on these fixtures" CLAIM
    into an adjudicated result: the oracle pins n_recalled = n_true_pairs
    and recall = 1.0, so a single missed pair hash-fails the key. (Same
    self-certifying pattern as agg_approx_distinct's accuracy flag.)
    """
    sh = minhash_signed_cached(spark, sf_dir)
    inv = hashed_index_cached(spark, sf_dir)
    a = inv.select("sh_h", F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    b = inv.select("sh_h", F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    common = (
        a.join(b, "sh_h")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (2 * F.col("n_a") >= F.col("n_b"))
            & (2 * F.col("n_b") >= F.col("n_a"))
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    exact = common.filter(jac >= _JACCARD_T).select("doc_a", "doc_b")
    cand = lsh_candidates(sh)
    hits = exact.join(cand, ["doc_a", "doc_b"], "left_semi")
    t = exact.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    r = hits.agg(F.count(F.lit(1)).alias("n_recalled"))
    return t.crossJoin(r).select(
        "n_true_pairs",
        "n_recalled",
        (F.col("n_recalled").cast("double") / F.col("n_true_pairs")).alias("recall"),
    )


_CONTAIN_T = 0.5


@query(
    "llm_contamination_check",
    oracle=f"""
    WITH inv AS ({_INV_SQL}),
    test AS (SELECT * FROM inv WHERE doc_id % 2 = 1),
    train AS (SELECT * FROM inv WHERE doc_id % 2 = 0),
    overlap AS (
        SELECT t.doc_id AS test_doc, r.doc_id AS train_doc,
               t.n_sh AS n_test, COUNT(*) AS n_common
        FROM test t JOIN train r ON t.s = r.s
        GROUP BY 1, 2, 3),
    scored AS (
        SELECT test_doc, train_doc,
               CAST(n_common AS DOUBLE) / n_test AS containment,
               ROW_NUMBER() OVER (PARTITION BY test_doc
                   ORDER BY CAST(n_common AS DOUBLE) / n_test DESC,
                            train_doc ASC) AS rn
        FROM overlap)
    SELECT test_doc, train_doc, containment
    FROM scored WHERE rn = 1 AND containment >= {_CONTAIN_T}
    """,
)
def llm_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN/TEST CONTAMINATION (decontamination pass): split the corpus
    into train (even doc_ids) and test (odd), and flag each test document
    whose shingles are >= 50% CONTAINED in some single training document
    — the benchmark-leakage check an LLM pipeline runs before trusting
    eval numbers. Containment (|A∩B| / |A_test|), not Jaccard: a short
    eval prompt embedded verbatim in a long training document is exactly
    the case symmetric similarity misses.

    Same inverted-index shape as llm_dedup_ngram but ASYMMETRIC: the
    index is built once (shared hashed_index_cached), split by side, and
    joined train-side-to-test-side only — cost scales with cross-corpus
    shingle overlap, never |train| x |test|. Per test doc the single
    worst offender survives (row_number over containment with a train-id
    tiebreak), which is what a removal list needs.
    """
    inv = hashed_index_cached(spark, sf_dir)
    test = inv.filter(F.col("doc_id") % 2 == 1).select(
        F.col("sh_h"), F.col("doc_id").alias("test_doc"), F.col("n_sh").alias("n_test")
    )
    train = inv.filter(F.col("doc_id") % 2 == 0).select(
        F.col("sh_h"), F.col("doc_id").alias("train_doc")
    )
    overlap = (
        test.join(train, "sh_h")
        .groupBy("test_doc", "train_doc", "n_test")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    containment = F.col("n_common").cast("double") / F.col("n_test")
    from pyspark.sql import Window

    w = Window.partitionBy("test_doc").orderBy(
        containment.desc(), F.col("train_doc").asc()
    )
    return (
        overlap.withColumn("containment", containment)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("containment") >= _CONTAIN_T))
        .select("test_doc", "train_doc", "containment")
    )


@query(
    "llm_dedup_incremental",
    oracle="""
    WITH corpus AS (
        SELECT DISTINCT text FROM documents WHERE doc_id % 5 <> 4),
    batch AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4),
    flagged AS (
        SELECT b.doc_id, (c.text IS NOT NULL) AS in_corpus,
               ROW_NUMBER() OVER (PARTITION BY b.text ORDER BY b.doc_id) AS rn
        FROM batch b LEFT JOIN corpus c ON c.text = b.text)
    SELECT doc_id,
           CASE WHEN in_corpus THEN 'dup_of_corpus'
                WHEN rn = 1 THEN 'kept'
                ELSE 'dup_in_batch' END AS verdict
    FROM flagged
    """,
)
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact dedup — the daily-ingest pattern: a new batch
    (doc_id % 5 == 4 stands in for today's crawl) is deduped against the
    already-accepted corpus AND within itself, WITHOUT re-running global
    dedup. Every batch document gets a verdict: 'dup_of_corpus' (hash
    already accepted), 'dup_in_batch' (an earlier batch doc wins), or
    'kept'.

    Scale shape: the corpus side joins as a DIGEST-ONLY projection —
    at 100 TB the accepted-hash table is 32 bytes/doc (~0.03% of corpus
    bytes) and is exactly what production pipelines persist between
    ingests, so each increment costs O(batch + digest-table), never a
    re-scan of accepted text. One hash exchange serves both the corpus
    anti-lookup and the within-batch keep-first window (same key), and
    the oracle replays the logic on raw text (identical barring a
    SHA-256 collision).
    """
    docs = load_documents_wide(spark, sf_dir)
    h = F.sha2(F.col("text"), 256)
    corpus = (
        docs.filter(F.col("doc_id") % 5 != 4).select(h.alias("_h")).distinct()
    )
    batch = docs.filter(F.col("doc_id") % 5 == 4).select("doc_id", h.alias("_h"))
    from pyspark.sql import Window

    w = Window.partitionBy("_h").orderBy("doc_id")
    return (
        batch.join(
            corpus.withColumn("in_corpus", F.lit(True)), "_h", "left"
        )
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            F.when(F.col("in_corpus"), "dup_of_corpus")
            .when(F.col("rn") == 1, "kept")
            .otherwise("dup_in_batch")
            .alias("verdict"),
        )
    )


_CONTAIN_T_NUM, _CONTAIN_T_DEN = 8, 10  # containment threshold 0.8


@query(
    "llm_dedup_containment",
    oracle=f"""
    WITH inv AS ({_INV_SQL}),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS n_shared
        FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4)
    SELECT doc_a AS doc_sub, doc_b AS doc_sup, n_shared,
           CAST(n_a AS INTEGER) AS n_sub, CAST(n_b AS INTEGER) AS n_sup,
           CAST(n_shared AS DOUBLE) / n_a AS containment
    FROM common WHERE {_CONTAIN_T_DEN} * n_shared >= {_CONTAIN_T_NUM} * n_a
    UNION ALL
    SELECT doc_b, doc_a, n_shared,
           CAST(n_b AS INTEGER), CAST(n_a AS INTEGER),
           CAST(n_shared AS DOUBLE) / n_b
    FROM common WHERE {_CONTAIN_T_DEN} * n_shared >= {_CONTAIN_T_NUM} * n_b
    """,
)
def llm_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED shingle-containment pairs: C(sub -> sup) =
    |S(sub) & S(sup)| / |S(sub)| >= 0.8 — the asymmetric complement of
    llm_dedup_ngram's Jaccard. Containment is what catches SUB-document
    duplication (a short doc quoted or embedded inside a much longer
    one): the union in Jaccard's denominator dilutes those pairs below
    any usable threshold, while containment is size-ratio-free by
    construction, so the Jaccard size prune (2*n_a >= n_b) must NOT be
    applied here.

    Same inverted-index shape as llm_dedup_ngram (shared xxhash64 index,
    work ~ sum of df^2 over shingles, never O(n^2)); the undirected
    intersection counts are computed ONCE per unordered pair
    (upper-triangle join), then BOTH directions are derived from that
    single aggregate by exploding a 2-element struct array — a UNION of
    two filters over the aggregate would re-execute the whole
    inverted-index join per branch (Spark gives self-referencing
    subplans no reuse; verified 4 exchanges -> 2 with the explode). The
    0.8 threshold is an exact integer comparison (10*shared >= 8*size);
    the reported containment value is one IEEE division of exact
    integers.
    """
    inv = hashed_index_cached(spark, sf_dir)
    a = inv.select(
        F.col("sh_h"), F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    b = inv.select(
        F.col("sh_h"), F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    common = (
        a.join(b, "sh_h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )

    def _dir(sub: str, sup: str, n_sub: str, n_sup: str) -> F.Column:
        return F.struct(
            F.col(sub).alias("doc_sub"),
            F.col(sup).alias("doc_sup"),
            F.col("n_shared").alias("n_shared"),
            F.col(n_sub).alias("n_sub"),
            F.col(n_sup).alias("n_sup"),
        )

    return (
        common.select(
            F.explode(
                F.array(_dir("doc_a", "doc_b", "n_a", "n_b"), _dir("doc_b", "doc_a", "n_b", "n_a"))
            ).alias("d")
        )
        .select("d.*")
        .filter(_CONTAIN_T_DEN * F.col("n_shared") >= _CONTAIN_T_NUM * F.col("n_sub"))
        .withColumn(
            "containment", F.col("n_shared").cast("double") / F.col("n_sub")
        )
    )
