"""Similarity search over the ``embeddings`` table (SURVEY.md §2.11).

* ``llm_sim_search``   — brute-force cosine top-k against one query
  vector. Scoring is ONE numpy matvec per Arrow batch (mapInArrow over
  the flat list-values buffer — no per-row object materialization);
  values match the oracle's sequential fold after ROUND(.,4). Scales
  linearly: a scan-project-topk with no shuffle but the k-row
  TakeOrdered merge.
* ``llm_sim_pairs``    — threshold pair search blocked by label (the
  exact metric the ANN variants approximate), oracle-checked.
* ``llm_sim_ann_lsh``  — random-hyperplane LSH: signed projections ->
  bucket id; the query probes only its own bucket. The projection is a
  seeded numpy matmul inside an Arrow-batched pandas UDF (the sanctioned
  Python path for genuinely numeric kernels). Rows-only.
* ``llm_sim_ann_ivf``  — IVF: coarse-quantize to N_CELLS centroid cells,
  probe the N_PROBE nearest, exact-rescore inside them. Oracle-checked:
  the rounded-cosine assignment is recomputable relationally in DuckDB.
* ``llm_dedup_embed``  — embedding-cosine near-dedup: threshold edges to
  lower-id vectors -> (dup_id, keep_id) drop-list, oracle-checked.

100 TB path: LSH bucket assignment is a narrow map; bucketed storage
(partitionBy(bucket)) turns every query into a single-partition read —
the IVF layout. Brute force stays the rescoring step inside the bucket.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..catalog import sql, table
from ..checkpoints import checkpoint_replacing
from ..registry import spec

QUERY_VEC_ID = 0
TOP_K = 10
N_PLANES = 6  # 64 buckets: bucket occupancy stays useful from sf0.001 up
PLANE_SEED = 42


def _as_double(col) -> F.Column:
    """array<float> -> array<double> via one array-level cast (codegen'd;
    a per-element transform() lambda is interpreted and ~2x slower)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _fetch_query_vec(sf_dir: str, vec_id: int = QUERY_VEC_ID) -> list[float]:
    """Driver-side point lookup of the query vector via pyarrow.

    The query vector is a *parameter* of the search, not dataflow — at
    scale it comes from a metadata/index store, not a cluster job. A
    Spark `.first()` here costs a full scheduled job (~150 ms) per call;
    the pushed-down pyarrow read is single-digit ms and returns the same
    float32 values.
    """
    import pyarrow.dataset as ds

    dset = ds.dataset(f"{sf_dir}/embeddings.parquet")
    t = dset.to_table(
        filter=ds.field("vec_id") == vec_id, columns=["embedding"]
    )
    return [float(v) for v in t.column("embedding")[0].as_py()]


def _dot(a, b) -> F.Column:
    """Sequential-order double dot product (matches the oracle exactly).

    zip_with/aggregate higher-order functions are interpreted per
    element, but still beat an unrolled element_at chain (measured ~4x:
    the giant scalar expression falls out of efficient codegen). Hot
    paths additionally (a) cast the array ONCE via _as_double, (b)
    precompute norms per vector, not per pair.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a, b) -> F.Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _qnorm(qvec: list[float]) -> float:
    """Driver-side ||q||: sequential double ops — the same IEEE sequence
    as the oracle's SQRT(list_dot_product(q,q)), so bit-identical."""
    import math

    acc = 0.0
    for v in qvec:
        acc += v * v
    return math.sqrt(acc)


def _sim_to_query_udf(qvec: list[float]):
    """cosine(q, embedding) as ONE numpy matvec per Arrow batch.

    The Catalyst zip_with/aggregate fold is interpreted per element
    (round-3 bench: 28x floor-adjusted vs DuckDB); this is the same
    batched-BLAS substitution that fixed llm_dedup_embed (5x). One
    vector column ships JVM->Arrow->numpy, one double comes back.
    Float caveat: numpy sums pairwise/SIMD, the oracle folds
    sequentially — identical after ROUND(.,4) except within ~1 ulp of a
    rounding boundary (same accepted risk as llm_dedup_embed, verified
    over every row at sf0.01 and sf0.1).
    """
    q = np.array(qvec, dtype=np.float64)
    qn = _qnorm(qvec)

    @pandas_udf("double")
    def sim_of(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        dots = mat @ q
        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        return pd.Series(dots / (qn * norms))

    return sim_of


def llm_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for the query vector (vec_id=0).

    The query vector is collected once (one row) and inlined into the
    scoring kernel — the degenerate broadcast. Scoring is a
    ``mapInArrow`` kernel that reads the list<float> column's FLAT
    values buffer and reshapes to (n, dim) — one numpy matvec per
    Arrow batch with no per-row object materialization (the pandas_udf
    ``np.vstack`` over an object Series was both slower and bimodal at
    sf1: 0.67-3.35 s across runs vs 0.63-0.78 s for this kernel,
    identical top-k). Rounding stays JVM-side (SQL round, HALF_UP — numpy
    rounds half-even). The plan is scan -> kernel -> TakeOrdered, no
    shuffle; ordering is total (rounded sim desc, vec_id) so top-k is
    deterministic.
    """
    qvec = _fetch_query_vec(sf_dir)
    q = np.array(qvec, dtype=np.float64)
    qn = _qnorm(qvec)

    def kernel(it):
        import pyarrow as pa

        for batch in it:
            emb = batch.column("embedding")
            flat = emb.flatten().to_numpy(zero_copy_only=False).astype(
                np.float64
            )
            mat = flat.reshape(len(emb), -1)
            dots = mat @ q
            norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
            yield pa.record_batch(
                [
                    batch.column("vec_id"),
                    batch.column("label"),
                    pa.array(dots / (qn * norms), pa.float64()),
                ],
                names=["vec_id", "label", "sim_raw"],
            )

    e = sql(
        spark,
        sf_dir,
        "SELECT vec_id, label, embedding FROM embeddings"
        f" WHERE vec_id <> {QUERY_VEC_ID}",
    )
    label_type = dict(e.dtypes)["label"]
    return (
        e.mapInArrow(kernel, f"vec_id long, label {label_type}, sim_raw double")
        .selectExpr("vec_id", "label", "round(sim_raw, 4) AS sim")
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(TOP_K)
    )


ORACLE_LLM_SIM_SEARCH = """
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
)
SELECT
  e.vec_id,
  e.label,
  ROUND(
    list_dot_product(q.qe, CAST(e.embedding AS DOUBLE[]))
    / (SQRT(list_dot_product(q.qe, q.qe))
       * SQRT(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[])))),
    4) AS sim
FROM embeddings e, q
WHERE e.vec_id <> 0
ORDER BY sim DESC, e.vec_id
LIMIT 10
"""


def llm_sim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label.

    Blocking bounds the pair explosion (the exact-metric companion to
    the LSH variant); within-block brute force is the IVF 'probe one
    cell' cost model. Top-20 by (rounded sim desc, ids) so the result is
    a deterministic total order in both engines.
    """
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("emb")
    )
    e = e.select(
        "*", F.sqrt(_dot(F.col("emb"), F.col("emb"))).alias("norm")
    )
    a = e.alias("a")
    b = e.alias("b")
    sim = F.round(
        _dot(F.col("a.emb"), F.col("b.emb"))
        / (F.col("a.norm") * F.col("b.norm")),
        4,
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            sim.alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_a", "vec_b")
        .limit(20)
    )


ORACLE_LLM_SIM_PAIRS = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
)
SELECT
  a.vec_id AS vec_a,
  b.vec_id AS vec_b,
  a.label AS label,
  ROUND(
    list_dot_product(a.emb, b.emb)
    / (SQRT(list_dot_product(a.emb, a.emb))
       * SQRT(list_dot_product(b.emb, b.emb))),
    4) AS sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
ORDER BY sim DESC, vec_a, vec_b
LIMIT 20
"""


def _planes(dim: int) -> np.ndarray:
    rng = np.random.RandomState(PLANE_SEED)
    return rng.standard_normal((N_PLANES, dim)).astype(np.float64)


def llm_sim_ann_lsh(
    spark: SparkSession, sf_dir: str, multiprobe: int = 1
) -> DataFrame:
    """ANN: random-hyperplane LSH with multi-probe + in-bucket rescoring.

    Signature = sign bits of seeded Gaussian projections (numpy matmul
    in an Arrow-batched pandas UDF — one JVM->Arrow->numpy round trip
    per batch, no per-row Python). The query probes its own bucket plus
    every bucket within Hamming distance ``multiprobe`` of it —
    multi-probe LSH (Lv et al., VLDB'07): near neighbors that fall just
    across one hyperplane land one bit-flip away, so probing the flip
    neighborhood buys recall WITHOUT more hash tables (at 100 TB,
    1 + N_PLANES partition-pruned reads instead of another full index).
    Exact cosine rescores the survivors. Rows-only (bucket content is
    sketch-dependent), deterministic via the fixed seed.
    """
    e = table(spark, sf_dir, "embeddings")
    qvec = _fetch_query_vec(sf_dir)
    planes = _planes(len(qvec))

    @pandas_udf("long")
    def bucket_of(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy())  # (batch, dim) float32
        bits = (mat.astype(np.float64) @ planes.T) > 0  # (batch, n_planes)
        weights = (1 << np.arange(N_PLANES)).astype(np.int64)
        return pd.Series(bits @ weights)

    # The query's bucket is computed driver-side with the same float32 ->
    # float64 promotion the UDF applies, so it lands in the same bucket.
    qbits = (
        np.array(qvec, dtype=np.float32).astype(np.float64) @ planes.T
    ) > 0
    qbucket = int(qbits @ (1 << np.arange(N_PLANES)).astype(np.int64))
    probes = {qbucket}
    if multiprobe >= 1:
        probes.update(qbucket ^ (1 << b) for b in range(N_PLANES))
    if multiprobe >= 2:
        for b1 in range(N_PLANES):
            for b2 in range(b1 + 1, N_PLANES):
                probes.add(qbucket ^ (1 << b1) ^ (1 << b2))

    with_bucket = e.select("vec_id", "label", "embedding",
                           bucket_of("embedding").alias("bucket"))
    sim = F.round(_sim_to_query_udf(qvec)(F.col("embedding")), 4)
    return (
        with_bucket.filter(
            F.col("bucket").isin(sorted(probes))
            & (F.col("vec_id") != QUERY_VEC_ID)
        )
        .select("vec_id", "label", "bucket", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(TOP_K)
    )


def _lsh_oracle(dim: int = 64, multiprobe: int = 1) -> str:
    """Full relational mirror of the LSH pipeline (r5 upgrade from
    rows-only, the IVF treatment): the seeded hyperplanes are inlined as
    DOUBLE[] literals — ``repr(float)`` is shortest-roundtrip, so DuckDB
    parses back the exact IEEE doubles numpy produced — and the bucket
    is the same sign-bit sum.  The embeddings tables are dim-64 at every
    sf (asserted in tests); sign flips need |dot| within ~1 ulp of 0
    (BLAS vs sequential fold), the same accepted risk as llm_dedup_embed.
    """
    planes = _planes(dim)
    terms = []
    for p in range(N_PLANES):
        vec = ", ".join(repr(float(v)) for v in planes[p])
        terms.append(
            f"(CASE WHEN list_dot_product(emb, [{vec}]) > 0"
            f" THEN {1 << p} ELSE 0 END)"
        )
    bucket_expr = "\n      + ".join(terms)
    probe_rows = ", ".join(
        ["(0)"] + [f"({1 << b})" for b in range(N_PLANES * min(multiprobe, 1))]
    )
    return f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
assigned AS (
  SELECT vec_id, label, emb,
    CAST({bucket_expr} AS BIGINT) AS bucket
  FROM e
),
q AS (
  SELECT emb AS qe, bucket AS qbucket,
         SQRT(list_dot_product(emb, emb)) AS qnorm
  FROM assigned WHERE vec_id = {QUERY_VEC_ID}
),
probes AS (
  SELECT DISTINCT xor(q.qbucket, t.v) AS bucket
  FROM q, (VALUES {probe_rows}) t(v)
)
SELECT
  a.vec_id,
  a.label,
  a.bucket,
  ROUND(list_dot_product(a.emb, q.qe)
        / (SQRT(list_dot_product(a.emb, a.emb)) * q.qnorm), 4) AS sim
FROM assigned a
JOIN probes p ON a.bucket = p.bucket
CROSS JOIN q
WHERE a.vec_id <> {QUERY_VEC_ID}
ORDER BY sim DESC, a.vec_id
LIMIT {TOP_K}
"""


ORACLE_LLM_SIM_ANN_LSH = _lsh_oracle()


EMBED_DUP_THRESHOLD = 0.4  # rounded-cosine cutoff; testdata max sim ~0.5


def llm_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dedup: drop-list with keeper assignment.

    A vector is a duplicate when some *lower-id* vector in its label
    block has rounded cosine >= threshold; the keeper is the lowest such
    id (the transitive-root approximation every large-scale dedup uses —
    union-find over sim edges is an iterative job, not a single query).
    Blocking by label bounds the pair space exactly like the LSH/IVF
    cells do at 100 TB.

    The pair metric is ONE numpy Gram matmul per label block inside
    ``applyInPandas`` — the standard blocked-similarity kernel — instead
    of a per-pair interpreted Catalyst fold (measured 32x slower at
    sf0.1, round-1 bench). The shuffle moves each vector once (blocking
    key = label); compute is BLAS over an Arrow batch. At 100 TB the
    same kernel chunks the block row-wise (X_chunk @ X_block.T) so
    memory stays O(chunk * block); block size is bounded by the blocking
    key exactly as IVF cell size is.

    Float caveat vs the oracle: BLAS sums in SIMD order, DuckDB's
    list_dot_product folds sequentially — same values except when a
    pair's sim sits within ~1 ulp of the 4-decimal rounding boundary;
    rounding is half-away-from-zero on both engines (ROUND semantics).
    """
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )

    def block_dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.sqrt(np.einsum("ij,ij->i", x, x))
        sims = (x @ x.T) / np.outer(norms, norms)
        # ROUND(sim, 4) half-away-from-zero, matching Spark F.round /
        # DuckDB ROUND on doubles
        rounded = np.floor(np.abs(sims) * 1e4 + 0.5) / 1e4 * np.sign(sims)
        # edges: lower-id row i -> higher-id row j (ids ascending, so
        # strict upper triangle == a.vec_id < b.vec_id)
        hit = np.triu(rounded >= EMBED_DUP_THRESHOLD, k=1)
        n_matches = hit.sum(axis=0)  # per higher-id column j
        dup_cols = np.flatnonzero(n_matches)
        if dup_cols.size == 0:
            return pd.DataFrame(
                {"dup_id": [], "keep_id": [], "n_matches": []},
                dtype="int64",
            )
        keep_rows = hit[:, dup_cols].argmax(axis=0)  # first True = min id
        return pd.DataFrame(
            {
                "dup_id": ids[dup_cols],
                "keep_id": ids[keep_rows],
                "n_matches": n_matches[dup_cols].astype(np.int64),
            }
        )

    return e.groupBy("label").applyInPandas(
        block_dedup, schema="dup_id long, keep_id long, n_matches long"
    )


ORACLE_LLM_DEDUP_EMBED = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
edges AS (
  SELECT
    b.vec_id AS dup_id,
    a.vec_id AS cand_keep,
    ROUND(
      list_dot_product(a.emb, b.emb)
      / (SQRT(list_dot_product(a.emb, a.emb))
         * SQRT(list_dot_product(b.emb, b.emb))),
      4) AS sim
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT dup_id, MIN(cand_keep) AS keep_id, COUNT(*) AS n_matches
FROM edges
WHERE sim >= 0.4
GROUP BY dup_id
"""


def embed_sim_edges(
    spark: SparkSession, sf_dir: str, threshold: float = EMBED_DUP_THRESHOLD
) -> DataFrame:
    """Similarity EDGES (vec_a, vec_b) above the rounded-cosine
    threshold, one blocked numpy Gram matmul per label block — the same
    kernel as llm_dedup_embed but emitting the graph instead of the
    drop-list."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )

    def block_edges(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.sqrt(np.einsum("ij,ij->i", x, x))
        sims = (x @ x.T) / np.outer(norms, norms)
        rounded = np.floor(np.abs(sims) * 1e4 + 0.5) / 1e4 * np.sign(sims)
        rows, cols = np.nonzero(np.triu(rounded >= threshold, k=1))
        return pd.DataFrame(
            {"doc_a": ids[rows], "doc_b": ids[cols]}, dtype="int64"
        )

    return e.groupBy("label").applyInPandas(
        block_edges, schema="doc_a long, doc_b long"
    )


def llm_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering: transitive closure over embedding-cosine
    edges.

    The semantic twin of llm_dedup_cc (which clusters the lexical
    n-gram graph): paraphrase chains A~B~C merge into one cluster even
    when cosine(A, C) falls under the threshold. Edges come from the
    blocked Gram-matmul kernel; the fixpoint is the same min-label
    propagation, checked against a DuckDB WITH RECURSIVE oracle. This
    is the cluster-then-keep-one endgame of embedding dedup at corpus
    scale — pairwise drop-lists under-merge chains.
    """
    from .dedup import connected_components

    labels = connected_components(embed_sim_edges(spark, sf_dir))
    return labels.select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_root").cast("long").alias("cluster_root"),
    )


ORACLE_LLM_DEDUP_SEMANTIC = """
WITH RECURSIVE e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
edges AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE ROUND(
    list_dot_product(a.emb, b.emb)
    / (SQRT(list_dot_product(a.emb, a.emb))
       * SQRT(list_dot_product(b.emb, b.emb))),
    4) >= 0.4
),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM edges
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM edges
),
nodes AS (SELECT DISTINCT src AS id FROM sym),
reach(a, b) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
)
SELECT a AS vec_id, MIN(b) AS cluster_root
FROM reach
GROUP BY a
"""


N_CELLS = 16  # IVF cells; centroids = the first N_CELLS vectors by id
N_PROBE = 2


def _round4(x: np.ndarray) -> np.ndarray:
    """ROUND(x, 4) half-away-from-zero — Spark F.round / DuckDB ROUND."""
    return np.floor(np.abs(x) * 1e4 + 0.5) / 1e4 * np.sign(x)


def llm_sim_ann_ivf(
    spark: SparkSession, sf_dir: str, n_probe: int = N_PROBE
) -> DataFrame:
    """ANN: IVF — coarse-quantize to cells, probe the nearest N_PROBE.

    Centroids are the N_CELLS lowest-id vectors (a deterministic stand-in
    for a k-means codebook; training is an offline job, not the query).
    Cell assignment is one numpy Gram matvec per Arrow batch — argmax of
    the ROUNDED (4 dp) cosine, lowest cell winning ties — and the query
    probes its N_PROBE nearest cells (same rounded metric), then exact
    cosine rescores inside them.

    Oracle-checked (round-4 upgrade from rows-only): every step — cell
    assignment, probe selection, rescoring — is relational over the
    parquet rows, so DuckDB recomputes the identical result with window
    functions (ORACLE_LLM_SIM_ANN_IVF). Rounding the assignment metric
    is what makes argmax stable across numpy's SIMD summation and the
    oracle's sequential fold.

    100 TB path: write the corpus partitioned/bucketed by ``cell`` so a
    probe is N_PROBE partition-pruned reads — the scan never touches the
    other cells; recall/cost tunes with N_PROBE exactly as in FAISS-IVF.
    """
    e = table(spark, sf_dir, "embeddings")
    import pyarrow.dataset as ds

    dset = ds.dataset(f"{sf_dir}/embeddings.parquet")
    cent_tbl = dset.to_table(
        filter=ds.field("vec_id") < N_CELLS, columns=["vec_id", "embedding"]
    ).sort_by("vec_id")
    cents = np.array(
        [list(v) for v in cent_tbl.column("embedding").to_pylist()],
        dtype=np.float64,
    )
    cnorms = np.sqrt(np.einsum("ij,ij->i", cents, cents))

    @pandas_udf("int")
    def cell_of(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        sims = _round4((mat @ cents.T) / np.outer(norms, cnorms))
        # np.argmax takes the FIRST max -> lowest cell id wins ties,
        # mirroring the oracle's ORDER BY sim DESC, cell.
        return pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    qvec = np.array(_fetch_query_vec(sf_dir), dtype=np.float64)
    qsims = _round4((cents @ qvec) / (cnorms * _qnorm([float(v) for v in qvec])))
    # stable argsort of -x keeps ascending cell order on ties
    probe_cells = [int(c) for c in np.argsort(-qsims, kind="stable")[:n_probe]]

    sim = F.round(_sim_to_query_udf([float(v) for v in qvec])(F.col("embedding")), 4)
    return (
        e.select("vec_id", "label", "embedding", cell_of("embedding").alias("cell"))
        .filter(
            F.col("cell").isin(probe_cells)
            & (F.col("vec_id") != QUERY_VEC_ID)
        )
        .select("vec_id", "label", "cell", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(TOP_K)
    )


#: Full relational mirror of the IVF pipeline: assign every vector to its
#: argmax-rounded-cosine centroid cell (lowest cell wins ties), pick the
#: query's N_PROBE nearest cells the same way, rescore inside them.
ORACLE_LLM_SIM_ANN_IVF = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
cents AS (
  SELECT vec_id AS cell, emb,
         SQRT(list_dot_product(emb, emb)) AS cnorm
  FROM e WHERE vec_id < 16
),
q AS (
  SELECT emb AS qe, SQRT(list_dot_product(emb, emb)) AS qnorm
  FROM e WHERE vec_id = 0
),
assigned AS (
  SELECT vec_id, label, emb, cell FROM (
    SELECT e.vec_id, e.label, e.emb, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND(list_dot_product(e.emb, c.emb)
                            / (SQRT(list_dot_product(e.emb, e.emb)) * c.cnorm),
                            4) DESC,
                      c.cell
           ) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
),
probe AS (
  SELECT cell FROM (
    SELECT c.cell,
           ROW_NUMBER() OVER (
             ORDER BY ROUND(list_dot_product(c.emb, q.qe) / (c.cnorm * q.qnorm),
                            4) DESC,
                      c.cell
           ) AS rn
    FROM cents c CROSS JOIN q
  ) WHERE rn <= 2
)
SELECT
  a.vec_id,
  a.label,
  a.cell,
  ROUND(list_dot_product(a.emb, q.qe)
        / (SQRT(list_dot_product(a.emb, a.emb)) * q.qnorm), 4) AS sim
FROM assigned a
JOIN probe p ON a.cell = p.cell
CROSS JOIN q
WHERE a.vec_id <> 0
ORDER BY sim DESC, a.vec_id
LIMIT 10
"""


def llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    compression pass in front of large-scale ANN serving (4x smaller
    vectors; IVF/LSH probe over int8, exact-rescore over the originals).

    Per vector: scale = 127 / max|x|, q_i = floor(x_i * scale + 0.5)
    (round-half-up via floor: Spark's round() and DuckDB's round() pick
    different halves on negatives, floor(+0.5) is sign-safe and
    bit-identical on both engines — same discipline as ts_interpolate).
    All arithmetic is double-precision IEEE on both sides: the float32
    -> double widening is exact, so the hash comparison is exact.

    100 TB: one narrow mapPartitions-free projection — array ops stay
    JVM-side, no shuffle at all; the output is smaller than the input.
    """
    e = table(spark, sf_dir, "embeddings")
    xd = F.transform("embedding", lambda x: x.cast("double"))
    amax = F.array_max(F.transform(xd, F.abs))
    scale = F.lit(127.0) / F.col("amax")
    q = F.transform(
        F.col("xd"), lambda x: F.floor(x * scale + F.lit(0.5)).cast("int")
    )
    # driver surface: the int8 vector rides as a canonical CSV string —
    # raw array cells are unhashable in the driver's canonicalizer
    # (the r4 flagship_features crash mode); library users take the
    # array from the upstream select.
    return (
        e.select("vec_id", xd.alias("xd"), amax.alias("amax"))
        .select(
            "vec_id",
            scale.alias("scale"),
            q.alias("q"),
            F.array_max(F.transform(q, F.abs)).alias("q_max_abs"),
        )
        .select(
            "vec_id",
            "scale",
            F.array_join(
                F.transform("q", lambda x: x.cast("string")), ","
            ).alias("q_csv"),
            "q_max_abs",
        )
    )


ORACLE_LLM_EMBED_QUANTIZE = """
WITH base AS (
  SELECT
    vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd,
    list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS amax
  FROM embeddings
),
quant AS (
  SELECT
    vec_id,
    127.0 / amax AS scale,
    list_transform(xd, x -> CAST(FLOOR(x * (127.0 / amax) + 0.5) AS INT)) AS q
  FROM base
)
SELECT
  vec_id,
  scale,
  array_to_string(list_transform(q, v -> CAST(v AS VARCHAR)), ',') AS q_csv,
  list_max(list_transform(q, v -> ABS(v))) AS q_max_abs
FROM quant
"""


#: random-projection geometry: 64-dim float input -> RP_DIMS signed
#: integer sums. Signs are +-1 from a fixed seed, inlined as literals
#: in BOTH engines' plans (the LSH-oracle discipline above).
RP_DIMS = 8
RP_SEED = 7


def _rp_signs() -> list[list[int]]:
    import random

    rng = random.Random(RP_SEED)
    return [
        [1 if rng.random() < 0.5 else -1 for _ in range(64)]
        for _ in range(RP_DIMS)
    ]


#: Corpus-scale int8 quantization as two CTEs, ``g`` (the global max)
#: and ``q`` (vec_id, q): ONE global scale (127 / max|x| over the whole
#: corpus) so quantized values are comparable ACROSS vectors — the
#: precondition for distances on the int domain (llm_embed_quantize's
#: per-vector scale maximizes per-vector precision instead; the two are
#: deliberate siblings). Float32 -> double widening, one max-aggregate
#: broadcast back, floor(x*scale + 0.5) sign-safe rounding — every step
#: IEEE-identical in both engines, so the BIGINT q vectors match
#: exactly. Spark SQL reads ``127.0`` and ``0.5`` as DECIMAL, hence the
#: DOUBLE casts: the oracle's sequence is double arithmetic.
GLOBAL_Q_CTES = """
g AS (
  SELECT MAX(array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))))
    AS gmax
  FROM embeddings
),
q AS (
  SELECT /*+ BROADCAST(g) */ vec_id,
         transform(embedding, x -> CAST(floor(
           CAST(x AS DOUBLE) * (CAST(127.0 AS DOUBLE) / g.gmax)
           + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS q
  FROM embeddings CROSS JOIN g
)"""


def _global_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, q): every embedding on the global int8 grid
    (``GLOBAL_Q_CTES``)."""
    return sql(spark, sf_dir, f"WITH {GLOBAL_Q_CTES} SELECT vec_id, q FROM q")


def llm_embed_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection dimensionality reduction 64 -> 8 over
    globally-quantized embeddings — the cheap sketch in front of
    coarse clustering / dedup blocking (Johnson-Lindenstrauss with
    +-1 (Achlioptas) projections).

    Each output dim is one zip_with product + aggregate fold over the
    int vector against a LITERAL +-1 array — whole-stage codegen, no
    shuffle beyond the scalar gmax broadcast, no UDF, and integer-exact
    in both engines (sums bounded by 64*127). The projection matrix is
    seeded Python inlined into both plans, like the LSH oracle's
    hyperplanes. The whole query is one SQL text, parsed once.

    At 100 TB: map-only over the embedding scan; output is 8 BIGINTs a
    row — the shape later stages (LSH banding on signs, coarse k-means)
    consume without touching the original vectors again.
    """
    dims = ",\n  ".join(
        f"aggregate(zip_with(q, array({', '.join(map(str, signs))}),"
        f" (a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        f" AS rp_{j}"
        for j, signs in enumerate(_rp_signs())
    )
    return sql(
        spark, sf_dir, f"WITH {GLOBAL_Q_CTES}\nSELECT vec_id,\n  {dims}\nFROM q"
    )


def _rp_oracle() -> str:
    signs = _rp_signs()
    values = ",\n    ".join(
        f"({i + 1}, {j}, {signs[j][i]})"
        for j in range(RP_DIMS)
        for i in range(64)
    )
    outs = ",\n  ".join(
        f"CAST(SUM(ex.qi * m.s) FILTER (WHERE m.j = {j}) AS BIGINT)"
        f" AS rp_{j}"
        for j in range(RP_DIMS)
    )
    return f"""
WITH g AS (
  SELECT MAX(list_max(list_transform(
    embedding, x -> ABS(CAST(x AS DOUBLE))))) AS gmax
  FROM embeddings
),
q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(FLOOR(CAST(x AS DOUBLE) * (127.0 / g.gmax) + 0.5)
                AS BIGINT)) AS q
  FROM embeddings, g
),
ex AS (
  SELECT vec_id, UNNEST(q) AS qi,
         UNNEST(generate_series(1, len(q))) AS i
  FROM q
),
m(i, j, s) AS (
  VALUES
    {values}
)
SELECT ex.vec_id,
  {outs}
FROM ex JOIN m USING (i)
GROUP BY ex.vec_id
"""


ORACLE_LLM_EMBED_RP = _rp_oracle()

#: k-means assignment: K centroids seeded from the K lowest vec_ids
KMEANS_K = 4


def llm_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (one Lloyd's half-step) over
    globally-quantized embeddings — the IVF coarse quantizer's training
    inner loop, isolated and exactness-checked. Seeding is
    deterministic (the K lowest vec_ids), so both engines assign
    identically.

    Distances are squared L2 on the global-int8 domain: zip_with
    difference, fold of squares — BIGINT-exact (bounded 64 * 254^2),
    no sqrt. Argmin is min(struct(dist2, centroid_id)): lexicographic
    struct ordering gives the deterministic tie-break a float argmin
    cannot. The K centroid vectors ride a broadcast cross join; one
    GROUP BY vec_id collapses the K candidates.

    At 100 TB: K centroids always broadcast (they are the small model
    state); the scan is the only data pass; the full Lloyd's iteration
    is this plan + a centroid-mean aggregate, repeated — the iterative
    discipline of graph_pagerank (localCheckpoint per step) applies.
    """
    return sql(spark, sf_dir, f"""
WITH {GLOBAL_Q_CTES},
cents AS (
  SELECT vec_id AS centroid_id, q AS cq FROM q ORDER BY vec_id LIMIT {KMEANS_K}
),
best AS (
  SELECT /*+ BROADCAST(c) */ q.vec_id,
         min(named_struct(
           'dist2_q', aggregate(zip_with(q.q, c.cq, (a, b) -> (a - b) * (a - b)),
                                CAST(0 AS BIGINT), (acc, x) -> acc + x),
           'centroid_id', c.centroid_id)) AS b
  FROM q CROSS JOIN cents c
  GROUP BY q.vec_id
)
SELECT vec_id, b.centroid_id AS centroid_id, b.dist2_q AS dist2_q FROM best
""")


#: Lloyd's iterations for the trained variant
KMEANS_ITERS = 3


def llm_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Lloyd's k-means over globally-quantized embeddings — the
    IVF coarse quantizer's actual training loop (llm_kmeans_assign is
    one half-step of this), run for a fixed 3 iterations and checked
    EXACTLY against an unrolled relational twin, the graph_pagerank
    discipline applied to ML training.

    Exactness: vectors live on the global-int8 grid; distances are
    BIGINT; each centroid update is floor(sum/count) evaluated as
    FLOOR of one IEEE division of two exact small integers — the true
    quotient is a rational with denominator <= n_members, never within
    FP error of an integer it doesn't equal, so both engines floor
    identically (sign-safe for negative coordinates, unlike integer
    div/truncation). Ties in the argmin break on centroid id via
    min(struct). A cluster that empties simply drops from the join in
    both engines — same rows either way.

    At 100 TB: per iteration = one pass over the corpus (broadcast
    centroids, no shuffle for assignment) + one (cid, dim) aggregate
    whose output is K x dims rows — model-sized. The per-dim explode
    happens once up front and is localCheckpointed; centroid tables
    localCheckpoint per step so plan depth stays O(1) in iterations.
    """
    q = _global_q(spark, sf_dir).localCheckpoint(eager=True)
    qe = q.select(
        "vec_id", F.posexplode("q").alias("idx", "v")
    ).localCheckpoint(eager=True)
    cent = (
        q.orderBy("vec_id")
        .limit(KMEANS_K)
        .select(
            F.col("vec_id").alias("cid"), F.col("q").alias("cq")
        )
        .localCheckpoint(eager=True)
    )
    dist2 = F.aggregate(
        F.zip_with(F.col("q"), F.col("cq"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    assign = None
    prev_cent = None
    for _ in range(KMEANS_ITERS):
        assign = (
            q.crossJoin(F.broadcast(cent))
            .select("vec_id", "cid", dist2.alias("d2"))
            .groupBy("vec_id")
            .agg(F.min(F.struct("d2", "cid")).alias("b"))
            .select("vec_id", F.col("b.cid").alias("cid"))
        )
        # release lags ONE generation: the final (lazy) `assign` plan
        # still reads the snapshot it was built from, so only the
        # grand-predecessor is provably unreferenced (checkpoints.py
        # contract; the last two snapshots are the result's own)
        cent, prev_cent = checkpoint_replacing(
            assign.join(qe, "vec_id")
            .groupBy("cid", "idx")
            .agg(
                F.floor(
                    F.sum("v").cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).alias("cv")
            )
            .groupBy("cid")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("idx", "cv"))),
                    lambda s: s["cv"],
                ).alias("cq")
            ),
            replacing=prev_cent,
        ), cent
    members = assign.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    # cq rides as a canonical CSV string on the driver surface (array
    # cells are unhashable in the driver's canonicalizer — the r4
    # flagship_features crash mode)
    return cent.join(members, "cid").select(
        F.col("cid").alias("centroid_id"),
        "n_members",
        F.array_join(
            F.transform("cq", lambda x: x.cast("string")), ","
        ).alias("cq_csv"),
    )


def _kmeans_train_oracle() -> str:
    sql = f"""
WITH g AS (
  SELECT MAX(list_max(list_transform(
    embedding, x -> ABS(CAST(x AS DOUBLE))))) AS gmax
  FROM embeddings
),
q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(FLOOR(CAST(x AS DOUBLE) * (127.0 / g.gmax) + 0.5)
                AS BIGINT)) AS q
  FROM embeddings, g
),
qe AS (
  SELECT vec_id, UNNEST(q) AS v,
         UNNEST(generate_series(1, len(q))) AS i
  FROM q
),
c0 AS (
  SELECT vec_id AS cid, q AS cq FROM q ORDER BY vec_id LIMIT {KMEANS_K}
)"""
    for t in range(KMEANS_ITERS):
        sql += f""",
a{t + 1} AS (
  SELECT vec_id, cid FROM (
    SELECT q.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY CAST(list_sum(list_transform(list_zip(q.q, c.cq),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT), c.cid
           ) AS rn
    FROM q CROSS JOIN c{t} c
  ) WHERE rn = 1
),
c{t + 1} AS (
  SELECT cid, list(cv ORDER BY i) AS cq FROM (
    SELECT a.cid, qe.i,
           CAST(FLOOR(CAST(SUM(qe.v) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cv
    FROM a{t + 1} a JOIN qe ON qe.vec_id = a.vec_id
    GROUP BY a.cid, qe.i
  ) GROUP BY cid
)"""
    sql += f"""
SELECT c.cid AS centroid_id, m.n_members,
       array_to_string(list_transform(c.cq, v -> CAST(v AS VARCHAR)), ',')
         AS cq_csv
FROM c{KMEANS_ITERS} c
JOIN (SELECT cid, COUNT(*) AS n_members
      FROM a{KMEANS_ITERS} GROUP BY cid) m USING (cid)
"""
    return sql


ORACLE_LLM_KMEANS_TRAIN = _kmeans_train_oracle()


ORACLE_LLM_KMEANS_ASSIGN = f"""
WITH g AS (
  SELECT MAX(list_max(list_transform(
    embedding, x -> ABS(CAST(x AS DOUBLE))))) AS gmax
  FROM embeddings
),
q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(FLOOR(CAST(x AS DOUBLE) * (127.0 / g.gmax) + 0.5)
                AS BIGINT)) AS q
  FROM embeddings, g
),
cents AS (
  SELECT vec_id AS centroid_id, q AS cq
  FROM q ORDER BY vec_id LIMIT {KMEANS_K}
),
scored AS (
  SELECT q.vec_id, c.centroid_id,
         CAST(list_sum(list_transform(list_zip(q.q, c.cq),
           z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist2_q
  FROM q CROSS JOIN cents c
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY dist2_q, centroid_id) AS rn
  FROM scored
)
SELECT vec_id, centroid_id, dist2_q FROM ranked WHERE rn = 1
"""


#: product-quantization geometry: 64-dim global-int8 vectors split into
#: PQ_M subspaces of PQ_SUB dims; PQ_K codewords per subspace -> 2-bit
#: codes, PQ_M * 2 bits = one byte per vector.
PQ_M = 4
PQ_SUB = 16
PQ_K = 4


def _pq_subspaces(col) -> F.Column:
    """array<bigint>[64] -> array of PQ_M subvectors (array<array<bigint>>)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array(
        *[F.slice(c, m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)]
    )


def _d2(a: str, b: str) -> F.Column:
    """Exact squared-L2 on the BIGINT grid (zip_with + fold)."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def llm_sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: product quantization (FAISS-PQ's compression + ADC search),
    integer-exact and oracle-checked.

    Encode: each globally-quantized vector (``_global_q``, BIGINT grid)
    splits into PQ_M=4 subvectors of 16 dims; per subspace the codebook
    is the PQ_K=4 lowest-vec_id subvectors (the deterministic stand-in
    for per-subspace Lloyd's — training IS ``llm_kmeans_train`` run per
    subspace, an offline job, not the query); a vector's code is the
    argmin-d2 codeword per subspace (ties to the lower code), packed to
    ``pq_code`` = sum(code_m * K^m) — ONE BYTE per vector, a 64x
    compression of the int8 corpus.

    Search (ADC — asymmetric distance computation): the query keeps its
    full subvectors; a PQ_M x PQ_K distance table (query-subvector to
    codeword, exact BIGINT) broadcasts; each vector's approximate
    distance is the sum of its codes' table entries. Top-10 by
    (adc_d2, vec_id), then exact d2 rescoring of the winners against
    the full query vector — the standard PQ serving shape.

    100 TB: the scan side carries only (vec_id, 4 codes); the ADC table
    is model-state (32 entries, broadcast); search is scan + 10-row
    TakeOrdered — no shuffle of vector data at all. Rescoring touches
    exactly k full vectors. All arithmetic is BIGINT on the global-int8
    grid, so DuckDB recomputes the identical top-k (no FP argmin drift).
    """
    q = _global_q(spark, sf_dir)
    v_sub = q.select(
        "vec_id", F.posexplode(_pq_subspaces("q")).alias("m", "vsub")
    )
    # codebook: PQ_K lowest-id vectors; code = rank by vec_id, derived
    # via sort_array+posexplode on the 4-row model table (no global
    # window — SCALE.md §5 discipline).
    cb = (
        q.orderBy("vec_id")
        .limit(PQ_K)
        .agg(F.sort_array(F.collect_list(F.struct("vec_id", "q"))).alias("s"))
        .select(F.posexplode("s").alias("code", "sv"))
        .select("code", _pq_subspaces(F.col("sv.q")).alias("subs"))
    )
    cb_idx = cb.select(
        "code", F.posexplode("subs").alias("m", "csub")
    )
    enc = (
        v_sub.join(F.broadcast(cb_idx), "m")
        .select("vec_id", "m", "code", _d2("vsub", "csub").alias("d2"))
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "code")).alias("b"))
        .select("vec_id", "m", F.col("b.code").alias("code"))
    )
    qsub = (
        v_sub.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("m").alias("qm"), F.col("vsub").alias("qs"))
    )
    adc = (
        cb_idx.join(F.broadcast(qsub), cb_idx["m"] == qsub["qm"])
        .select("m", "code", _d2("qs", "csub").alias("adc_d2_m"))
    )
    approx = (
        enc.join(F.broadcast(adc), ["m", "code"])
        .groupBy("vec_id")
        .agg(
            F.sum("adc_d2_m").cast("bigint").alias("adc_d2"),
            F.sum(
                (
                    F.col("code")
                    * F.pow(F.lit(float(PQ_K)), F.col("m").cast("double"))
                ).cast("bigint")
            ).cast("bigint").alias("pq_code"),
        )
    )
    top = (
        approx.filter(F.col("vec_id") != QUERY_VEC_ID)
        .orderBy("adc_d2", "vec_id")
        .limit(TOP_K)
    )
    qq = q.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("q").alias("qv")
    )
    return (
        q.join(F.broadcast(top.select("vec_id", "pq_code", "adc_d2")), "vec_id")
        .crossJoin(F.broadcast(qq))
        .select(
            "vec_id", "pq_code", "adc_d2", _d2("q", "qv").alias("d2_exact")
        )
    )


def _pq_oracle() -> str:
    return f"""
WITH g AS (
  SELECT MAX(list_max(list_transform(
    embedding, x -> ABS(CAST(x AS DOUBLE))))) AS gmax
  FROM embeddings
),
q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(FLOOR(CAST(x AS DOUBLE) * (127.0 / g.gmax) + 0.5)
                AS BIGINT)) AS q
  FROM embeddings, g
),
v_sub AS (
  SELECT vec_id, m,
         q[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS vsub
  FROM q,
       LATERAL (SELECT UNNEST(generate_series(0, {PQ_M - 1})) AS m)
),
cb AS (SELECT vec_id AS seed, q FROM q ORDER BY vec_id LIMIT {PQ_K}),
cb_idx AS (
  SELECT m,
         ROW_NUMBER() OVER (PARTITION BY m ORDER BY seed) - 1 AS code,
         q[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS csub
  FROM cb,
       LATERAL (SELECT UNNEST(generate_series(0, {PQ_M - 1})) AS m)
),
enc AS (
  SELECT vec_id, m, code FROM (
    SELECT v.vec_id, v.m, c.code,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id, v.m
             ORDER BY CAST(list_sum(list_transform(
               list_zip(v.vsub, c.csub),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT), c.code
           ) AS rn
    FROM v_sub v JOIN cb_idx c USING (m)
  ) WHERE rn = 1
),
qsub AS (SELECT m, vsub AS qs FROM v_sub WHERE vec_id = {QUERY_VEC_ID}),
adc AS (
  SELECT c.m, c.code,
         CAST(list_sum(list_transform(list_zip(s.qs, c.csub),
           z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS adc_d2_m
  FROM cb_idx c JOIN qsub s USING (m)
),
approx AS (
  SELECT e.vec_id,
         CAST(SUM(a.adc_d2_m) AS BIGINT) AS adc_d2,
         CAST(SUM(e.code * POWER({PQ_K}, e.m)) AS BIGINT) AS pq_code
  FROM enc e JOIN adc a USING (m, code)
  GROUP BY e.vec_id
),
top AS (
  SELECT * FROM approx WHERE vec_id <> {QUERY_VEC_ID}
  ORDER BY adc_d2, vec_id LIMIT {TOP_K}
),
qq AS (SELECT q AS qv FROM q WHERE vec_id = {QUERY_VEC_ID})
SELECT t.vec_id, t.pq_code, t.adc_d2,
       CAST(list_sum(list_transform(list_zip(x.q, qq.qv),
         z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS d2_exact
FROM top t JOIN q x USING (vec_id) CROSS JOIN qq
"""


ORACLE_LLM_SIM_ANN_PQ = _pq_oracle()


QUERIES = {
    "llm_sim_search": spec(
        llm_sim_search, ORACLE_LLM_SIM_SEARCH, "llm",
        doc="brute-force cosine top-k (numpy mapInArrow kernel)",
    ),
    "llm_sim_pairs": spec(
        llm_sim_pairs, ORACLE_LLM_SIM_PAIRS, "llm",
        doc="label-blocked cosine near-dup pairs (exact)",
    ),
    "llm_sim_ann_lsh": spec(
        llm_sim_ann_lsh, ORACLE_LLM_SIM_ANN_LSH, "llm",
        doc="random-hyperplane LSH multi-probe ANN, exact-rescored "
            "(oracle: inlined-plane relational mirror)",
    ),
    "llm_sim_ann_ivf": spec(
        llm_sim_ann_ivf, ORACLE_LLM_SIM_ANN_IVF, "llm",
        doc="IVF cell probe ANN with exact rescoring (oracle-checked)",
    ),
    "llm_sim_ann_pq": spec(
        llm_sim_ann_pq, ORACLE_LLM_SIM_ANN_PQ, "llm",
        doc="product-quantization ADC ANN (1-byte codes, broadcast "
            "distance table, exact top-k rescore), integer-exact",
    ),
    "llm_dedup_embed": spec(
        llm_dedup_embed, ORACLE_LLM_DEDUP_EMBED, "llm",
        doc="embedding-cosine near-dedup with keeper assignment",
    ),
    "llm_dedup_semantic": spec(
        llm_dedup_semantic, ORACLE_LLM_DEDUP_SEMANTIC, "llm",
        doc="semantic clustering: CC over embedding-cosine edges",
    ),
    "llm_embed_quantize": spec(
        llm_embed_quantize, ORACLE_LLM_EMBED_QUANTIZE, "llm",
        doc="symmetric int8 embedding quantization (sign-safe rounding)",
    ),
    "llm_embed_rp": spec(
        llm_embed_rp, ORACLE_LLM_EMBED_RP, "llm",
        doc="+-1 random projection 64->8 on global-int8, integer-exact",
    ),
    "llm_kmeans_assign": spec(
        llm_kmeans_assign, ORACLE_LLM_KMEANS_ASSIGN, "llm",
        doc="nearest-centroid assignment, exact int argmin w/ tie-break",
    ),
    "llm_kmeans_train": spec(
        llm_kmeans_train, ORACLE_LLM_KMEANS_TRAIN, "llm",
        doc="3-iteration Lloyd's k-means, exact vs unrolled SQL twin",
    ),
}
