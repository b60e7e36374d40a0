"""Embedding similarity operators (SURVEY §2 C5-C7).

Cosine math is written so Spark and DuckDB produce bit-identical
doubles: every term is float32→double (exact), products are doubles
(exact per IEEE), and the 64-term accumulation is strictly
left-associative in BOTH engines (Spark's `aggregate` left-fold; an
explicit left-assoc `+` chain in the oracle SQL). No rounding fudge
needed.

Scale design:
- brute-force top-k broadcasts the (small) query set and streams the
  corpus once — the right baseline at any scale when |queries| is small;
- all-pairs near-dup is the sf-small oracle baseline; the 100 TB path is
  the sign-LSH bucketing (knn_lsh): 8 md5-derived hyperplanes bucket
  vectors so candidate generation is an equi-join on the 8-bit
  signature, linear in corpus size;
- everything stays in whole-stage codegen via higher-order array
  functions — no UDFs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .. import memo
from ..io import load_table, table_path

DIM = 64
N_PLANES = 8
NEARDUP_COS = 0.5
TOPK = 5
N_QUERIES = 20
# all-pairs baseline guard: 200k x 64 float64 ≈ 100 MB broadcast matrix
DEDUP_EMB_MAX_ROWS = 200_000


def _dot(a: str, b: str):
    """Strict left-fold dot product over float arrays, double math.

    (An unrolled 64-term ``+`` chain was tried and is SLOWER: the giant
    expression tree falls out of whole-stage codegen. The HOF fold stays
    compiled and keeps the left-associative IEEE order of the oracle.)
    """
    prod = F.zip_with(
        F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def _dot_sql(a: str, b: str) -> str:
    """The DuckDB twin: explicit left-assoc chain (same fold order)."""
    terms = [
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(1, DIM + 1)
    ]
    return "(0.0 + " + " + ".join(terms) + ")"


def _with_norm(vecs: DataFrame) -> DataFrame:
    return vecs.withColumn("norm", F.sqrt(_dot("embedding", "embedding")))


def _np_query_scores(
    spark: SparkSession, sf_dir: str, n_queries: int, dims: tuple = ()
) -> DataFrame:
    """The C6 shape — every corpus vector of `sf_dir`'s embeddings
    scored against the broadcast query set (``vec_id < n_queries``,
    self-pairs excluded) — with the |corpus| x |queries| interpreted
    HOF fold-dots replaced by one numpy pass per task (guide §4.2; the C116 ``_pop_topk_edges``
    recipe). Returns (query_id, neighbor_id, cos_sim), or with
    ``dims`` one row per prefix budget d with a ``dim_budget`` column
    (the C93 matryoshka stack); no rows when no vector is a query.

    Bit-identity with the fold formulation is EXACT, not approximate:
    dot products AND both norms accumulate dimension-by-dimension
    (sequential within a pair, vectorized across pairs — the same
    left-assoc IEEE order as ``_dot``/``_dot_pfx``), prefix snapshots
    are taken at each budget boundary exactly where ``slice`` truncates
    the fold, and the final expression cos = dot / (qn * cn) performs
    the multiply-then-divide in the fold plan's order (IEEE multiply is
    commutative, so qn*cn == cn*qn bitwise). The query matrix rides in
    the closure by value, so identical inputs yield `sameResult` plans.

    Ranking/windows stay in the JVM — this helper only replaces the
    non-equi broadcast join + fold scoring, which is where both the
    interpreted per-pair cost and the |queries|-wide expression trees
    (~0.5-1 s of analysis per invocation) lived."""
    import numpy as np
    import pandas as pd

    vecs = load_table(spark, sf_dir, "embeddings")

    def query_side():
        side = (
            vecs.filter(F.col("vec_id") < n_queries)
            .select("vec_id", "embedding")
            .toPandas()
        )
        emb = side["embedding"].to_numpy()
        qm = np.stack(emb) if len(emb) else np.empty((0, DIM))
        return side["vec_id"].to_numpy(), qm.astype(np.float64)

    # The collected query side is a pure function of the embeddings
    # file and tiny (|queries| x DIM); memoized so a plan construction
    # does not re-run its eager filter+toPandas job.
    qids_all, qm_all = memo.get_or_build(
        "np_query_side",
        [table_path(sf_dir, "embeddings")],
        query_side,
        extra=(n_queries,),
    )
    budgets = tuple(dims) or (DIM,)
    with_budget = bool(dims)
    schema = "query_id bigint, neighbor_id bigint, cos_sim double"
    if with_budget:
        schema += ", dim_budget int"
    if not len(qids_all):
        return spark.createDataFrame([], schema)

    def score(batches, qids=qids_all, qm=qm_all, budgets=budgets, wb=with_budget):
        qcols = [qm[:, d] for d in range(DIM)]
        bset = set(budgets)
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cids = pdf["vec_id"].to_numpy()
            acc = np.zeros((len(c), len(qids)))
            accn = np.zeros(len(c))
            accq = np.zeros(len(qids))
            snaps = []
            for d in range(DIM):
                col = c[:, d]
                acc = acc + col[:, None] * qcols[d][None, :]
                accn = accn + col * col
                accq = accq + qcols[d] * qcols[d]
                if (d + 1) in bset:
                    cos = acc / (
                        np.sqrt(accq)[None, :] * np.sqrt(accn)[:, None]
                    )
                    snaps.append((d + 1, cos))
            ii, jj = np.nonzero(cids[:, None] != qids[None, :])
            frames = []
            for b, cos in snaps:
                f = {
                    "query_id": qids[jj],
                    "neighbor_id": cids[ii],
                    "cos_sim": cos[ii, jj],
                }
                if wb:
                    f["dim_budget"] = np.full(len(ii), b, dtype=np.int32)
                frames.append(pd.DataFrame(f))
            yield pd.concat(frames, ignore_index=True)

    return vecs.select("vec_id", "embedding").mapInPandas(score, schema=schema)


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: embedding-cosine near-duplicate pairs (all-pairs baseline).

    Executed as a broadcast-matrix block product: the (small) corpus
    matrix is broadcast once, and each Arrow batch of vectors computes
    its block of the cosine matrix with one BLAS matmul inside
    ``mapInPandas`` — ~20x faster than evaluating 64-term array folds
    per pair, and it distributes (each executor scores its own block).
    The all-pairs product is the SMALL-scale baseline by design; the
    100 TB near-dup path is dedup_minhash_lsh / knn_lsh bucketing.

    cos_sim is rounded to 6 dp on both engines: BLAS accumulation order
    differs from the oracle's left-assoc fold by ~1e-15 relative, and
    rounding makes the outputs hash-identical.
    """
    import numpy as np
    import pandas as pd

    vecs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_corpus = vecs.count()
    if n_corpus > DEDUP_EMB_MAX_ROWS:
        raise ValueError(
            f"dedup_embedding is the all-pairs small-corpus baseline: corpus has "
            f"{n_corpus} vectors, cap is {DEDUP_EMB_MAX_ROWS} (the broadcast "
            f"matrix would exceed executor memory). Use dedup_minhash_lsh / "
            f"knn_lsh bucketing for large corpora."
        )
    pdf_all = vecs.toPandas()
    ids_all = pdf_all["vec_id"].to_numpy()
    m_all = np.stack(pdf_all["embedding"].to_numpy()).astype(np.float64)
    norms_all = np.sqrt(np.einsum("ij,ij->i", m_all, m_all))
    bc = spark.sparkContext.broadcast((ids_all, m_all, norms_all))

    def score(batches):
        ids, m, norms = bc.value
        block = 1024  # bounds the cos block to block x |corpus| doubles
        for pdf in batches:
            for lo in range(0, len(pdf), block):
                sub = pdf.iloc[lo : lo + block]
                a = np.stack(sub["embedding"].to_numpy()).astype(np.float64)
                a_ids = sub["vec_id"].to_numpy()
                a_norms = np.sqrt(np.einsum("ij,ij->i", a, a))
                cos = (a @ m.T) / np.outer(a_norms, norms)
                ai, bj = np.nonzero(
                    (cos >= NEARDUP_COS) & (a_ids[:, None] < ids[None, :])
                )
                yield pd.DataFrame(
                    {
                        "vec_a": a_ids[ai],
                        "vec_b": ids[bj],
                        "cos_sim": np.round(cos[ai, bj], 6),
                    }
                )

    schema = "vec_a bigint, vec_b bigint, cos_sim double"
    return vecs.mapInPandas(score, schema=schema).orderBy("vec_a", "vec_b")


DEDUP_EMBEDDING_SQL = f"""
WITH v AS (
  SELECT vec_id, embedding, sqrt({_dot_sql('embedding', 'embedding')}) AS norm
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({_dot_sql('a.embedding', 'b.embedding')} / (a.norm * b.norm), 6) AS cos_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE {_dot_sql('a.embedding', 'b.embedding')} / (a.norm * b.norm) >= {NEARDUP_COS}
ORDER BY vec_a, vec_b
"""


def knn_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: brute-force cosine top-k — broadcast queries, one corpus
    scan; scoring vectorized via `_np_query_scores` (r10), ranking in
    the JVM window exactly as before."""
    scored = _np_query_scores(spark, sf_dir, N_QUERIES)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
        .orderBy("query_id", "rank")
    )


KNN_BRUTEFORCE_SQL = f"""
WITH v AS (
  SELECT vec_id, embedding, sqrt({_dot_sql('embedding', 'embedding')}) AS norm
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qe, norm AS qn FROM v WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         {_dot_sql('q.qe', 'v.embedding')} / (q.qn * v.norm) AS cos_sim
  FROM v JOIN q ON v.vec_id <> q.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, cos_sim
FROM ranked WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""


def _plane_weight_sql(p: str, d: int) -> str:
    """Deterministic pseudo-random hyperplane weight from md5 — identical
    construction in both engines (ascii of the first two hex chars)."""
    h = f"md5(CAST({p} AS STRING) || ':' || '{d}')"  # STRING parses in both engines
    return f"(ascii(substr({h}, 1, 1)) * 257 + ascii(substr({h}, 2, 1)) - 20432)"


def _plane_weight(p: int, d: int) -> int:
    """Python twin of ``_plane_weight_sql`` — same md5, same arithmetic."""
    import hashlib

    h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()
    return ord(h[0]) * 257 + ord(h[1]) - 20432


def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: sign-LSH bucketing (random-hyperplane) — the ANN scale path.

    Each vector gets an 8-bit signature (sign of dot with 8 md5-derived
    hyperplanes); near neighbors land in the same bucket with high
    probability, so candidate search is an equi-join on the signature.
    Output: per-vector bucket + occupancy (the candidate-set size).

    The hyperplane weights are deterministic f(plane, dim), so they are
    precomputed in Python and embedded as literal arrays: the signature
    is 8 map-side HOF dots per row — no plane explode, no runtime md5,
    no groupBy shuffle. (DuckDB recomputes the same weights via md5 in
    SQL; integer weights are exact doubles, fold order matches.)
    """
    vecs = load_table(spark, sf_dir, "embeddings")
    bits = []
    for p in range(N_PLANES):
        weights = F.array(
            *[F.lit(float(_plane_weight(p, d))) for d in range(1, DIM + 1)]
        )
        prod = F.zip_with(weights, F.col("embedding"), lambda w, x: w * x.cast("double"))
        dot = F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(dot > 0, F.lit("1")).otherwise(F.lit("0")))
    sig = vecs.select("vec_id", F.concat(*bits).alias("bucket"))
    w = Window.partitionBy("bucket")
    return (
        sig.withColumn("n_in_bucket", F.count("*").over(w))
        .select("vec_id", "bucket", "n_in_bucket")
        .orderBy("vec_id")
    )


def _knn_lsh_sql() -> str:
    dot_terms = " + ".join(
        f"({_plane_weight_sql('p', d)}) * CAST(embedding[{d}] AS DOUBLE)"
        for d in range(1, DIM + 1)
    )
    return f"""
WITH vp AS (
  SELECT vec_id, embedding, unnest(range(0, {N_PLANES})) AS p
  FROM embeddings
),
dots AS (
  SELECT vec_id, p, 0.0 + {dot_terms} AS dot
  FROM vp
),
sig AS (
  SELECT vec_id,
         string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
  FROM dots
  GROUP BY vec_id
)
SELECT vec_id, bucket, COUNT(*) OVER (PARTITION BY bucket) AS n_in_bucket
FROM sig
ORDER BY vec_id
"""


KNN_LSH_SQL = _knn_lsh_sql()


IVF_TOPK = 5
IVF_QUERIES = 20

# rv: each float32 element rounded to 6 dp as DECIMAL so centroid means
# and centroid distances are EXACT decimal arithmetic (order-insensitive
# sums, identical in both engines — no float summation order to disagree
# on). cos_sim between real vectors still uses the exact left-assoc fold.
_RV = "CAST(ROUND(CAST(v AS DOUBLE), 6) AS DECIMAL(16,6))"


def _ivf_assign(vecs: DataFrame) -> DataFrame:
    """Shared IVF coarse quantizer (C25 + C81 + C82): centroid training
    + cell assignment, returning (vec_id, cell, embedding).

    Centroid training: posexplode to (label, dim, unit) with the 6-dp
    element as an exact int64 micro-unit, then one map-side-combined
    LONG-sum groupBy. Long sums are order-insensitive and exact, so this
    is bit-identical to the oracle's DECIMAL SUM (scaled 1e6) — and long
    agg buffers are ~7x cheaper than decimal(38,6) here. The trained
    quantizer goes to the driver (tiny: |cells| x DIM rows) and is
    embedded as literal arrays so assignment needs no join at all:
    per-cell zip_with/aggregate folds in ONE corpus scan, whole-stage
    codegen, argmin with ties to the smallest cell id (cells_sorted is
    ascending and array_position returns the FIRST match). Distance math
    is exact int64 micro-units — squared-diff sums over 64 dims stay far
    under 2^63, same argmin as the oracle's DECIMAL dist2 (monotone
    x1e12 scaling)."""
    return _ivf_assign_to(vecs, _ivf_train(vecs))


def _ivf_train_cached(spark: SparkSession, sf_dir: str) -> dict:
    # The quantizer is a pure function of the embeddings file, and its
    # eager collect is ~0.8 s that knn_ivf / ivf_recall_sweep /
    # knn_ivfpq would each re-pay; plain-Python Decimals, so the value
    # is not bound to a session.
    return memo.get_or_build(
        "ivf_train",
        [table_path(sf_dir, "embeddings")],
        lambda: _ivf_train(load_table(spark, sf_dir, "embeddings")),
    )


def _ivf_train(vecs: DataFrame) -> dict:
    """Centroid training half of the coarse quantizer: per-label means
    via one posexplode + map-side-combined LONG-sum groupBy, collected
    to the driver (tiny: |cells| x DIM rows) as 6-dp Decimals."""
    from decimal import ROUND_HALF_UP, Decimal

    ve = vecs.select("label", F.posexplode("embedding").alias("pos", "v")).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        (
            F.round(F.col("v").cast("double"), 6).cast("decimal(16,6)")
            * F.lit(1_000_000)
        ).cast("long").alias("u"),
    )
    cent = ve.groupBy("label", "dim").agg(
        F.sum("u").alias("su"), F.count("*").alias("n")
    )
    by_cell: dict[int, dict[int, object]] = {}
    for r in cent.collect():
        # ROUND(CAST(sum AS DOUBLE)/n, 6) — replicate the engines' shared
        # rounding chain exactly: micro-unit long -> exact decimal sum
        # (scaleb) -> correctly-rounded double (float(Decimal)) -> IEEE
        # division -> HALF_UP 6-dp round over the shortest decimal repr
        # (Decimal(repr(x)).quantize, NOT Python round(), which is
        # banker's).
        val = float(Decimal(r["su"]).scaleb(-6)) / r["n"]
        by_cell.setdefault(int(r["label"]), {})[int(r["dim"])] = Decimal(
            repr(val)
        ).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    return by_cell


def _cell_dists(by_cell: dict):
    """(rv_arr, cells_sorted, dist_cols): the ONE implementation of the
    exact int64 micro-unit centroid-distance contract (6-dp decimal
    element encoding × scaleb(6) literal centroids, squared-diff long
    folds over a materialized `rv` column) shared by cell assignment
    (C25/C81/C82), per-cell outlier ranking (C61), and the nprobe
    sweep (C94) — so a change to the rounding/scaling contract cannot
    desynchronize the consumers the oracles and the nprobe=1 pin test
    require to agree."""
    cells_sorted = sorted(by_cell)
    rv_arr = F.transform(
        F.col("embedding"),
        lambda x: (
            F.round(x.cast("double"), 6).cast("decimal(16,6)") * F.lit(1_000_000)
        ).cast("long"),
    )
    dist_cols = []
    for c in cells_sorted:
        c6_arr = F.array(
            *[
                F.lit(int(by_cell[c][d].scaleb(6)))
                for d in range(1, DIM + 1)
            ]
        )
        sq = F.zip_with(F.col("rv"), c6_arr, lambda x, y: (x - y) * (x - y))
        dist_cols.append(F.aggregate(sq, F.lit(0).cast("long"), lambda a, x: a + x))
    return rv_arr, cells_sorted, dist_cols


def _ivf_assign_to(vecs: DataFrame, by_cell: dict) -> DataFrame:
    """Assignment half: score every vector against the (possibly
    frozen) centroid set — numpy int64 micro-unit distances inside
    ``mapInPandas`` (guide §4.2), zero joins; argmin ties to the
    smallest cell id.

    r10: the former per-cell ``zip_with``/``aggregate`` literal folds
    are higher-order functions, which are CodegenFallback — |corpus| x
    |cells| x DIM interpreted ops per scan, plus a |cells|-sized
    expression tree that cost ~1 s of ANALYSIS per invocation across
    the four consumers (C25/C81/C82/C94). The exact-arithmetic contract
    is unchanged: ``rv`` is still computed by the SAME JVM expression
    (`_cell_dists`' 6-dp decimal x 1e6 long encoding), and from there
    everything is INTEGER math — squared-diff sums of int64 micro-units
    (max ~2^48, no overflow), where numpy and the JVM fold are the same
    function (integer addition is associative; no float order to
    preserve). ``np.argmin`` returns the FIRST minimum and the centroid
    matrix rows are sorted by cell id, so ties break to the smallest
    cell id exactly like the old ``array_position`` lookup. The centroid
    matrix rides in the closure by value (the C116 `_pop_topk_edges`
    idiom), so identical inputs pickle to identical plans and the
    C81 `ivfpq_corpus` swap slot still `sameResult`s across calls."""
    import numpy as np
    import pandas as pd

    cells_sorted = sorted(by_cell)
    cents = np.array(
        [
            [int(by_cell[c][d].scaleb(6)) for d in range(1, DIM + 1)]
            for c in cells_sorted
        ],
        dtype=np.int64,
    )
    cell_ids = np.array(cells_sorted, dtype=np.int64)
    rv_arr = F.transform(
        F.col("embedding"),
        lambda x: (
            F.round(x.cast("double"), 6).cast("decimal(16,6)") * F.lit(1_000_000)
        ).cast("long"),
    )
    src = vecs.select("vec_id", "embedding").withColumn("rv", rv_arr)

    def assign(batches, cents=cents, cell_ids=cell_ids):
        for pdf in batches:
            if not len(pdf):
                continue
            rv = np.stack(pdf["rv"].to_numpy()).astype(np.int64)
            diff = rv[:, None, :] - cents[None, :, :]
            dist = np.einsum("ncd,ncd->nc", diff, diff)
            idx = dist.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": cell_ids[idx].astype(np.int32),
                    "embedding": pdf["embedding"],
                }
            )

    return src.mapInPandas(
        assign, schema="vec_id bigint, cell int, embedding array<float>"
    )


def _ivf_cell_dists_np(vecs: DataFrame, by_cell: dict) -> DataFrame:
    """(vec_id, cell, dist2_u) for EVERY centroid per vector — the
    exploded form of the centroid-distance contract, numpy int64 in
    ``mapInPandas`` (r11, VERDICT r10 item 3: the last interpreted-HOF
    fold class). `_cell_dists`' per-cell ``zip_with``/``aggregate``
    literal folds are CodegenFallback AND carry a |cells|-wide literal
    expression tree (~0.5-1 s of analysis per invocation); the
    arithmetic from the JVM-computed ``rv`` on is pure INTEGER
    (squared-diff sums of int64 micro-units, associative — no IEEE
    order), so numpy is the same function. Consumers rank/filter in
    the JVM exactly as before."""
    import numpy as np
    import pandas as pd

    cells_sorted = sorted(by_cell)
    cents = np.array(
        [
            [int(by_cell[c][d].scaleb(6)) for d in range(1, DIM + 1)]
            for c in cells_sorted
        ],
        dtype=np.int64,
    )
    cell_ids = np.array(cells_sorted, dtype=np.int64)
    rv_arr = F.transform(
        F.col("embedding"),
        lambda x: (
            F.round(x.cast("double"), 6).cast("decimal(16,6)") * F.lit(1_000_000)
        ).cast("long"),
    )
    src = vecs.select("vec_id", "embedding").withColumn("rv", rv_arr)

    def dists(batches, cents=cents, cell_ids=cell_ids):
        k = len(cell_ids)
        for pdf in batches:
            if not len(pdf):
                continue
            rv = np.stack(pdf["rv"].to_numpy()).astype(np.int64)
            diff = rv[:, None, :] - cents[None, :, :]
            dist = np.einsum("ncd,ncd->nc", diff, diff)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), k),
                    "cell": np.tile(cell_ids, len(pdf)).astype(np.int32),
                    "dist2_u": dist.ravel(),
                }
            )

    return src.mapInPandas(
        dists, schema="vec_id bigint, cell int, dist2_u bigint"
    )


def _ivf_own_cell_dist_np(vecs: DataFrame, by_cell: dict) -> DataFrame:
    """(label, vec_id, dist2_u): each vector's exact int64 micro-unit
    squared distance to its OWN label centroid (the C61 shape). The
    former formulation evaluated `_cell_dists`' full |cells|-wide fold
    map per row and indexed it by label — |corpus| x |cells| x DIM
    interpreted ops for a per-row lookup that needs exactly one cell
    (r11; same integer-exactness argument as `_ivf_cell_dists_np`)."""
    import numpy as np
    import pandas as pd

    cells_sorted = sorted(by_cell)
    cents = np.array(
        [
            [int(by_cell[c][d].scaleb(6)) for d in range(1, DIM + 1)]
            for c in cells_sorted
        ],
        dtype=np.int64,
    )
    cell_ids = np.array(cells_sorted, dtype=np.int64)
    rv_arr = F.transform(
        F.col("embedding"),
        lambda x: (
            F.round(x.cast("double"), 6).cast("decimal(16,6)") * F.lit(1_000_000)
        ).cast("long"),
    )
    src = vecs.select("vec_id", "label", "embedding").withColumn("rv", rv_arr)

    def dist_own(batches, cents=cents, cell_ids=cell_ids):
        for pdf in batches:
            if not len(pdf):
                continue
            rv = np.stack(pdf["rv"].to_numpy()).astype(np.int64)
            lab = pdf["label"].to_numpy().astype(np.int64)
            idx = np.searchsorted(cell_ids, lab)
            diff = rv - cents[idx]
            yield pd.DataFrame(
                {
                    "label": pdf["label"],
                    "vec_id": pdf["vec_id"],
                    "dist2_u": np.einsum("nd,nd->n", diff, diff),
                }
            )

    return src.mapInPandas(
        dist_own, schema="label int, vec_id bigint, dist2_u bigint"
    )


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C25: IVF-style ANN — coarse quantizer + within-cell search.

    The inverted-file ANN layout (Jégou et al., the FAISS IVF flat
    index): a small centroid set partitions the corpus into cells;
    each query probes only its own cell (nprobe=1 here), so search cost
    is |corpus|/nlist instead of |corpus|. Centroids here are the
    per-label means (a deterministic stand-in for k-means training —
    the assignment/search plumbing, which is the Spark-relevant part,
    is identical); cell assignment is argmin squared-L2 to the centroid,
    computed in exact DECIMAL so both engines agree bit-for-bit.

    Scale shape: centroid TRAINING is one posexplode + map-side-combined
    groupBy (the k-means stand-in); the trained centroid table is tiny
    (|cells| x 64), so ASSIGNMENT embeds it as literal arrays and scores
    each vector with per-cell zip_with/aggregate folds in one scan —
    zero joins, zero shuffles, whole-stage codegen — the Spark analog of
    FAISS's broadcast coarse quantizer. The within-cell search is an
    equi-join on the cell id against the broadcast query set — candidate
    generation linear in corpus size, the same bucketing contract as
    knn_lsh. All centroid arithmetic is exact DECIMAL so both engines
    agree bit-for-bit.
    """
    vecs = load_table(spark, sf_dir, "embeddings")
    corpus = _ivf_assign_to(vecs, _ivf_train_cached(spark, sf_dir)).withColumn(
        "norm", F.sqrt(_dot("embedding", "embedding"))
    )
    queries = corpus.filter(F.col("vec_id") < IVF_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("cell"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qn"),
    )
    pairs = corpus.alias("c").join(
        F.broadcast(queries).alias("q"),
        (F.col("c.cell") == F.col("q.cell")) & (F.col("c.vec_id") != F.col("q.query_id")),
    )
    cos = _dot("q.qe", "c.embedding") / (F.col("q.qn") * F.col("c.norm"))
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        pairs.select(
            F.col("q.query_id").alias("query_id"),
            F.col("q.cell").cast("bigint").alias("cell"),
            F.col("c.vec_id").alias("neighbor_id"),
            cos.alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= IVF_TOPK)
        .select("query_id", "cell", "rank", "neighbor_id", "cos_sim")
        .orderBy("query_id", "rank")
    )


KNN_IVF_SQL = f"""
WITH ve AS (
  SELECT vec_id, label,
         unnest(range(1, len(embedding) + 1)) AS dim,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE), 6) AS DECIMAL(16,6)) AS rv
  FROM embeddings
),
cent AS (
  SELECT label AS cell, dim,
         CAST(ROUND(CAST(ROUND(SUM(rv), 6) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(16,6)) AS c6
  FROM ve GROUP BY label, dim
),
assigned AS (
  SELECT ve.vec_id, cent.cell, SUM((ve.rv - cent.c6) * (ve.rv - cent.c6)) AS dist2
  FROM ve JOIN cent ON ve.dim = cent.dim
  GROUP BY ve.vec_id, cent.cell
),
cells AS (
  SELECT vec_id, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cell ASC) AS rn
    FROM assigned
  ) WHERE rn = 1
),
vn AS (
  SELECT vec_id, embedding, sqrt({_dot_sql('embedding', 'embedding')}) AS norm
  FROM embeddings
),
corpus AS (
  SELECT cells.vec_id, cells.cell, vn.embedding, vn.norm
  FROM cells JOIN vn ON cells.vec_id = vn.vec_id
),
q AS (
  SELECT vec_id AS query_id, cell, embedding AS qe, norm AS qn
  FROM corpus WHERE vec_id < {IVF_QUERIES}
),
scored AS (
  SELECT q.query_id, CAST(q.cell AS BIGINT) AS cell, c.vec_id AS neighbor_id,
         {_dot_sql('q.qe', 'c.embedding')} / (q.qn * c.norm) AS cos_sim
  FROM corpus c JOIN q ON c.cell = q.cell AND c.vec_id <> q.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, cell, rank, neighbor_id, cos_sim
FROM ranked WHERE rank <= {IVF_TOPK}
ORDER BY query_id, rank
"""


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C17: per-label embedding centroids (elementwise mean per dim).

    The corpus-health check of an embedding pipeline (drifted or
    collapsed clusters show up immediately). Elements are rounded to 6dp
    then summed as DECIMAL, so the centroid is exact and
    order-insensitive — a naive double sum would drift run-to-run at
    1000 partitions.
    """
    vecs = load_table(spark, sf_dir, "embeddings")
    ve = vecs.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("v").cast("double"), 6).cast("decimal(16,6)").alias("rv"),
    )
    return (
        ve.groupBy("label", "dim")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("rv"), 6).cast("double").alias("sum_v"),
            F.round(
                F.round(F.sum("rv"), 6).cast("double") / F.count("*"), 6
            ).alias("centroid_v"),
        )
        .orderBy("label", "dim")
    )


EMBEDDING_STATS_SQL = """
WITH ve AS (
  SELECT label,
         unnest(range(1, len(embedding) + 1)) AS dim,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE), 6) AS DECIMAL(16,6)) AS rv
  FROM embeddings
)
SELECT label, dim, COUNT(*) AS n,
       CAST(ROUND(SUM(rv), 6) AS DOUBLE) AS sum_v,
       ROUND(CAST(ROUND(SUM(rv), 6) AS DOUBLE) / COUNT(*), 6) AS centroid_v
FROM ve
GROUP BY label, dim
ORDER BY label, dim
"""


TFIDF_TAU = 0.3
TFIDF_MAX_DF_ABS = 256  # posting-list cap: bounds pairs-per-term at scale
TFIDF_MAX_DF_FRAC = 0.5  # stop-term pruning: terms in >half the corpus carry
                         # no discriminative weight and explode the term join


def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C35: document-pair cosine similarity over TF-IDF term vectors.

    Sparse formulation — no dense vectors ever materialize: the dot
    product is a TERM-LEVEL equi-join (doc_a, doc_b pairs meet only on
    terms they share), so the shuffle is keyed by term and the plan
    scales with posting-list sizes, not |docs|^2. Ultra-common terms
    (df > half the corpus) are pruned first: an IR-standard cut that
    also removes the quadratic hot-term buckets (the same reason the
    ngram-Jaccard op prefix-filters). idf's ln() is rounded to 6 dp
    before use and per-term products are summed as DECIMAL(18,6), so
    the across-term accumulation is order-insensitive and engine-exact
    (the bm25_rank idiom); norms use IEEE sqrt (correctly rounded,
    engine-identical).

    At 100 TB: posting lists partition by term; a df cap bounds the
    worst bucket, and the per-doc norm join broadcasts (doc-count sized).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    tf = tok.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    weights = (
        tf.join(F.broadcast(dfreq), "w")
        .crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("df")
            <= F.least(
                F.col("n_docs") * TFIDF_MAX_DF_FRAC, F.lit(float(TFIDF_MAX_DF_ABS))
            )
        )
        .select(
            "doc_id",
            "w",
            (
                F.col("tf")
                * F.round(F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6)
            ).alias("wt"),
        )
    )
    norms = weights.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.round(F.col("wt") * F.col("wt"), 6).cast("decimal(18,6)")).cast("double")).alias("norm")
    )
    a, b = weights.alias("a"), weights.alias("b")
    dots = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.sum(
                F.round(F.col("a.wt") * F.col("b.wt"), 6).cast("decimal(18,6)")
            ).cast("double").alias("dot")
        )
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    return (
        dots.join(na, F.col("doc_a") == F.col("na.doc_id"))
        .join(nb, F.col("doc_b") == F.col("nb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("dot") / (F.col("na.norm") * F.col("nb.norm")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= TFIDF_TAU)
        .orderBy("doc_a", "doc_b")
    )


TFIDF_COSINE_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
tf AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM tok WHERE w <> '' GROUP BY doc_id, w
),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
weights AS (
  SELECT tf.doc_id, tf.w,
         tf.tf * ROUND(ln((nd.n_docs + 1.0) / (dfreq.df + 1.0)), 6) AS wt
  FROM tf JOIN dfreq USING (w), nd
  WHERE dfreq.df <= LEAST(nd.n_docs * {TFIDF_MAX_DF_FRAC}, {TFIDF_MAX_DF_ABS})
),
norms AS (
  SELECT doc_id,
         sqrt(CAST(SUM(CAST(ROUND(wt * wt, 6) AS DECIMAL(18,6))) AS DOUBLE)) AS norm
  FROM weights GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(CAST(ROUND(a.wt * b.wt, 6) AS DECIMAL(18,6))) AS DOUBLE) AS dot
  FROM weights a JOIN weights b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d.doc_a, d.doc_b,
       ROUND(d.dot / (na.norm * nb.norm), 6) AS cos_sim
FROM dots d
JOIN norms na ON d.doc_a = na.doc_id
JOIN norms nb ON d.doc_b = nb.doc_id
WHERE ROUND(d.dot / (na.norm * nb.norm), 6) >= {TFIDF_TAU}
ORDER BY d.doc_a, d.doc_b
"""


_SQ_LEVELS = 255  # 8-bit scalar quantization


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C36: int8 scalar quantization of the embedding column + exact
    reconstruction error — the storage/serving compression step of a
    vector pipeline (FAISS `SQ8` layout: per-dim [min,max] trained on
    the corpus, values mapped to 0..255).

    All arithmetic is integer µ-units so Spark and DuckDB are
    bit-exact with zero float drift: v → round(v·1e6) (bigint), per-dim
    global [mn, mx] from ONE aggregate of 2×64 literal min/max folds
    (map-side combined, no posexplode blowup — the knn_ivf idiom),
    then q = round-half-up((v−mn)·255/(mx−mn)) and
    recon = round-half-up(q·(mx−mn)/255) as pure integer division:
    (2·d·255 + r) div (2·r). The per-vector squared error Σ(v−recon)²
    is an exact bigint. One scan + one 1-row broadcast; array-side
    zip_with keeps everything in whole-stage codegen at 100 TB.
    """
    vecs = load_table(spark, sf_dir, "embeddings")
    dim = len(vecs.select("embedding").first()[0])
    uv = vecs.withColumn(
        "uv",
        F.expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))"),
    )
    bounds = uv.agg(
        F.array(*[F.min(F.element_at("uv", i + 1)) for i in range(dim)]).alias("mns"),
        F.array(*[F.max(F.element_at("uv", i + 1)) for i in range(dim)]).alias("mxs"),
    )
    q = uv.crossJoin(F.broadcast(bounds))
    q = (
        q.withColumn("rng", F.expr("zip_with(mxs, mns, (a, b) -> a - b)"))
        .withColumn("d", F.expr("zip_with(uv, mns, (v, m) -> v - m)"))
        .withColumn(
            "q",
            F.expr(
                f"zip_with(d, rng, (dd, r) -> CASE WHEN r = 0 THEN CAST(0 AS BIGINT) "
                f"ELSE (2 * dd * {_SQ_LEVELS} + r) div (2 * r) END)"
            ),
        )
        .withColumn(
            "recon_d",
            F.expr(
                f"zip_with(q, rng, (qq, r) -> (2 * qq * r + {_SQ_LEVELS}) div (2 * {_SQ_LEVELS}))"
            ),
        )
        .withColumn(
            "sq_err",
            F.expr(
                "aggregate(zip_with(d, recon_d, (a, b) -> (a - b) * (a - b)), "
                "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ),
        )
    )
    return q.select(
        "vec_id",
        "label",
        F.expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + x)").alias("q_sum"),
        F.expr("array_min(q)").alias("q_min"),
        F.expr("array_max(q)").alias("q_max"),
        "sq_err",
    ).orderBy("vec_id")


EMBEDDING_QUANTIZE_SQL = f"""
WITH uv AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS v
  FROM embeddings
),
bounds AS (
  SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM uv GROUP BY dim
),
quant AS (
  SELECT u.vec_id, u.label,
         u.v - b.mn AS d,
         b.mx - b.mn AS r,
         CASE WHEN b.mx = b.mn THEN 0
              ELSE (2 * (u.v - b.mn) * {_SQ_LEVELS} + (b.mx - b.mn))
                   // (2 * (b.mx - b.mn)) END AS q
  FROM uv u JOIN bounds b USING (dim)
),
recon AS (
  SELECT vec_id, label, q,
         d - (2 * q * r + {_SQ_LEVELS}) // (2 * {_SQ_LEVELS}) AS err
  FROM quant
)
SELECT vec_id, label,
       CAST(SUM(q) AS BIGINT) AS q_sum,
       CAST(MIN(q) AS BIGINT) AS q_min,
       CAST(MAX(q) AS BIGINT) AS q_max,
       CAST(SUM(err * err) AS BIGINT) AS sq_err
FROM recon
GROUP BY vec_id, label
ORDER BY vec_id
"""


KMEANS_K = 8


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C45: k-means over the embedding corpus — two exact Lloyd rounds.

    The semantic-dedup / corpus-bucketing primitive (cluster, then
    sample/dedup within clusters). Iterative algorithms are where
    engines usually diverge (float summation order), so every quantity
    here is exact: vectors are µ-unit BIGINTs (round(v*1e6) — the
    embedding_quantize idiom), round-0 distances are integer sums, and
    round-1 centroids avoid mean division entirely by comparing
    cnt²-scaled distances (Σ(x·cnt − Σx)²) in DECIMAL(38,0) — argmin
    is invariant under the positive cnt² scaling, so the assignment is
    IDENTICAL to true-mean k-means, bit-for-bit in both engines, at
    any partition count. Seeds = the first K vec_ids (deterministic).

    Plan shape at 100 TB: centroids are K rows — every iteration is a
    broadcast join against the corpus (map-side zip_with/aggregate
    folds in codegen), one per-dim partial-agg shuffle to re-center.
    Per-iteration cost is O(corpus·K·dim) flops and ONE shuffle of
    K·dim partial sums; the corpus never reshuffles. (The mapInPandas
    BLAS variant trades codegen for vectorized math when K·dim grows;
    the plan shape is unchanged.)
    """
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda v: F.round(v.cast("double") * 1_000_000, 0).cast("bigint"),
        ).alias("x6"),
    )
    seeds = vecs.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cl"), F.col("x6").alias("c6")
    )

    def sq_int(a, b):
        d = F.zip_with(a, b, lambda x, c: (x - c) * (x - c))
        return F.aggregate(d, F.lit(0).cast("bigint"), lambda acc, t: acc + t)

    d0 = vecs.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "x6", "cl", sq_int(F.col("x6"), F.col("c6")).alias("dist")
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cl")
    a0 = (
        d0.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "x6", F.col("cl").alias("cluster0"))
    )
    sums = (
        a0.select("cluster0", F.posexplode("x6").alias("dim", "x"))
        .groupBy("cluster0", "dim")
        .agg(F.sum("x").alias("csum"))
        .groupBy("cluster0")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "csum"))),
                lambda s: s["csum"],
            ).alias("csum_arr")
        )
    )
    counts = a0.groupBy("cluster0").agg(F.count("*").alias("n"))
    cents1 = sums.join(F.broadcast(counts), "cluster0").select(
        F.col("cluster0").alias("cl"), "csum_arr", "n"
    )
    dec0 = F.lit(0).cast("decimal(38,0)")
    d1 = a0.crossJoin(F.broadcast(cents1)).select(
        "vec_id",
        "cluster0",
        "cl",
        F.aggregate(
            F.zip_with(
                F.col("x6"), F.col("csum_arr"), lambda x, s: x * F.col("n") - s
            ),
            dec0,
            lambda acc, t: acc
            + (t.cast("decimal(19,0)") * t.cast("decimal(19,0)")).cast(
                "decimal(38,0)"
            ),
        ).alias("dist"),
    )
    a1 = (
        d1.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cluster0", F.col("cl").alias("cluster1"))
    )
    return a1.orderBy("vec_id")


_X6 = "CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT)"

KMEANS_SQL = f"""
WITH v AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim, {_X6} AS x6
  FROM embeddings
),
c0 AS (
  SELECT vec_id AS cl, dim, x6 AS c6 FROM v WHERE vec_id < {KMEANS_K}
),
d0 AS (
  SELECT v.vec_id, c0.cl, SUM((v.x6 - c0.c6) * (v.x6 - c0.c6)) AS dist
  FROM v JOIN c0 USING (dim)
  GROUP BY v.vec_id, c0.cl
),
a0 AS (
  SELECT vec_id, cl AS cluster0 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
    FROM d0
  ) WHERE rn = 1
),
cnt AS (
  SELECT cluster0 AS cl, COUNT(*) AS n FROM a0 GROUP BY cluster0
),
c1 AS (
  SELECT a0.cluster0 AS cl, v.dim, SUM(v.x6) AS csum
  FROM v JOIN a0 USING (vec_id)
  GROUP BY a0.cluster0, v.dim
),
d1 AS (
  SELECT v.vec_id, c1.cl,
         SUM(CAST(v.x6 * cnt.n - c1.csum AS HUGEINT)
             * CAST(v.x6 * cnt.n - c1.csum AS HUGEINT)) AS dist
  FROM v JOIN c1 USING (dim) JOIN cnt ON cnt.cl = c1.cl
  GROUP BY v.vec_id, c1.cl
),
a1 AS (
  SELECT vec_id, cl AS cluster1 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
    FROM d1
  ) WHERE rn = 1
)
SELECT a0.vec_id, a0.cluster0, a1.cluster1
FROM a0 JOIN a1 USING (vec_id)
ORDER BY a0.vec_id
"""


def knn_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C49: ANN quality evaluation — recall@k of the sign-LSH buckets
    against the exact brute-force top-k, per query.

    The missing piece between C6 (exact baseline) and C7 (scale path):
    HOW GOOD is the bucketing? For each query vector, recall@k = the
    fraction of its true top-k neighbors that share its LSH bucket —
    the number an ANN deployment tunes (more planes → smaller buckets →
    lower recall; fewer → bigger candidate sets). Expressed as exact
    integer hit counts + a 6-dp ratio so both engines agree.

    Plan: the top-k table is K·|queries| rows (tiny, broadcast); bucket
    signatures are map-side folds (knn_lsh's plan); one broadcast join
    each side — the evaluation costs less than one brute-force pass.
    """
    topk = knn_cosine_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    vecs = load_table(spark, sf_dir, "embeddings")
    bits = []
    for p in range(N_PLANES):
        weights = F.array(
            *[F.lit(float(_plane_weight(p, d))) for d in range(1, DIM + 1)]
        )
        prod = F.zip_with(weights, F.col("embedding"), lambda w, x: w * x.cast("double"))
        dot = F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)
        bits.append(F.when(dot > 0, F.lit("1")).otherwise(F.lit("0")))
    sig = vecs.select("vec_id", F.concat(*bits).alias("bucket"))
    qb = sig.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "bucket", "qbucket"
    )
    nb = sig.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed(
        "bucket", "nbucket"
    )
    return (
        topk.join(F.broadcast(qb), "query_id")
        .join(F.broadcast(nb), "neighbor_id")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("k"),
            F.sum((F.col("qbucket") == F.col("nbucket")).cast("bigint")).alias(
                "n_hits"
            ),
        )
        .select(
            "query_id",
            "k",
            "n_hits",
            # scaled-integer floor division — ROUND(double, 6) diverges
            # between engines at .5 shortest-repr boundaries; div cannot
            (F.expr("(n_hits * 1000000) div k") / F.lit(1_000_000.0))
            .cast("double")
            .alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def _knn_recall_sql() -> str:
    dot_terms = " + ".join(
        f"({_plane_weight_sql('p', d)}) * CAST(embedding[{d}] AS DOUBLE)"
        for d in range(1, DIM + 1)
    )
    return f"""
WITH v AS (
  SELECT vec_id, embedding, sqrt({_dot_sql('embedding', 'embedding')}) AS norm
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qe, norm AS qn FROM v WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         {_dot_sql('q.qe', 'v.embedding')} / (q.qn * v.norm) AS cos_sim
  FROM v JOIN q ON v.vec_id <> q.query_id
),
topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {TOPK}
),
vp AS (
  SELECT vec_id, embedding, unnest(range(0, {N_PLANES})) AS p
  FROM embeddings
),
dots AS (
  SELECT vec_id, p, 0.0 + {dot_terms} AS dot
  FROM vp
),
sig AS (
  SELECT vec_id,
         string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
  FROM dots
  GROUP BY vec_id
)
SELECT t.query_id,
       COUNT(*) AS k,
       CAST(SUM(CASE WHEN qs.bucket = ns.bucket THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST((SUM(CASE WHEN qs.bucket = ns.bucket THEN 1 ELSE 0 END) * 1000000)
            // COUNT(*) AS DOUBLE) / 1000000 AS recall_at_k
FROM topk t
JOIN sig qs ON qs.vec_id = t.query_id
JOIN sig ns ON ns.vec_id = t.neighbor_id
GROUP BY t.query_id
ORDER BY t.query_id
"""


KNN_RECALL_SQL = _knn_recall_sql()


SEM_MIN_SEEDS = 8   # floor for the sqrt(N) coarse-cell count
SEM_TAU = NEARDUP_COS


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C58: semantic (embedding-space) dedup — cluster-scoped near-dup
    removal with a keep-lowest-id policy, reported per cell.

    The SemDeDup recipe (Abbas et al. 2023): coarse-cluster the corpus,
    then search for near-duplicate pairs ONLY within a cluster and keep
    one representative — candidate generation is an equi-join on the
    cell id, never all-pairs. The cell count is max(8, floor(sqrt(N)))
    — the single-level IVF balance point: assignment costs N*k dot
    products and within-cell pairing costs ~N^2/(2k), so k = sqrt(N)
    equalizes them at N^1.5 total (the probe measured a FIXED 8-cell
    variant at 27x wall on 10x data — the quadratic cliff this formula
    removes; sqrt-cells measures ~7x). **For corpora ≥10x this scale,
    use `semantic_dedup_two_level` (C131)** — the stacked-quantizer
    successor at N^(4/3) vs this op's N^1.5: the round-9 100x cold
    probe measured this op at 54.6 (exactly its N^1.5 envelope) vs
    12.4 for the two-level form, a 4.4x wall gap that widens with N.
    The recall trade (finer leaves skip cross-leaf near-dups within an
    L1 cell) is pinned by pytest on BOTH the sf corpus and the 10x
    corpus: dropped(C131) <= dropped(C58). Stacking each level's
    fan-out at ~cbrt is exactly FAISS's IVF-in-IVF answer. Seeds are the first k
    corpus vectors (deterministic k-means stand-in — the trained form
    is kmeans_embeddings C45); both engines derive k from the same
    COUNT via the same IEEE sqrt, so the cells agree bit-for-bit.

    Output: per cell, corpus size, dropped near-dups (the larger vec_id
    of any pair with cosine >= tau), and survivors.
    """
    import math

    vecs = _with_norm(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    n = vecs.count()
    n_seeds = max(SEM_MIN_SEEDS, int(math.floor(math.sqrt(float(n)))))
    seeds = vecs.filter(F.col("vec_id") < n_seeds).select(
        F.col("vec_id").alias("seed_id"),
        F.col("embedding").alias("se"),
        F.col("norm").alias("sn"),
    )
    scored = vecs.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "embedding",
        "norm",
        "seed_id",
        (_dot("embedding", "se") / (F.col("norm") * F.col("sn"))).alias("cos_seed"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_seed"), F.asc("seed_id"))
    cells = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("seed_id").alias("cell"), "embedding", "norm")
    )
    # cells feeds three consumers (both pair sides + the base counts);
    # persist so the N x sqrt(N) assignment pass runs once, not thrice
    # (bounded one-copy cache shared with the dedup module).
    from .dedup import _swap_persist

    cells = _swap_persist("semdedup_cells", cells)
    pair_cos = _dot("a.embedding", "b.embedding") / (F.col("a.norm") * F.col("b.norm"))
    dropped = (
        cells.alias("a")
        .join(
            cells.alias("b"),
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(pair_cos >= SEM_TAU)
        .select(F.col("b.cell").alias("cell"), F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .groupBy("cell")
        .agg(F.count("*").alias("n_dropped"))
    )
    base = cells.groupBy("cell").agg(F.count("*").alias("n_vecs"))
    return (
        base.join(dropped, "cell", "left")
        .select(
            "cell",
            "n_vecs",
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            (F.col("n_vecs") - F.coalesce("n_dropped", F.lit(0))).alias("n_kept"),
        )
        .orderBy("cell")
    )


SEMANTIC_DEDUP_SQL = f"""
WITH v AS (
  SELECT vec_id, embedding, sqrt({_dot_sql('embedding', 'embedding')}) AS norm
  FROM embeddings
),
s AS (
  SELECT vec_id AS seed_id, embedding AS se, norm AS sn FROM v
  WHERE vec_id < (SELECT GREATEST({SEM_MIN_SEEDS},
                                  CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))
                  FROM embeddings)
),
scored AS (
  SELECT v.vec_id, v.embedding, v.norm, s.seed_id,
         {_dot_sql('v.embedding', 's.se')} / (v.norm * s.sn) AS cos_seed
  FROM v, s
),
cells AS (
  SELECT vec_id, seed_id AS cell, embedding, norm FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos_seed DESC, seed_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
dropped AS (
  SELECT cell, COUNT(DISTINCT vec_id) AS n_dropped FROM (
    SELECT a.cell, b.vec_id
    FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE {_dot_sql('a.embedding', 'b.embedding')} / (a.norm * b.norm) >= {SEM_TAU}
  ) GROUP BY cell
),
base AS (SELECT cell, COUNT(*) AS n_vecs FROM cells GROUP BY cell)
SELECT base.cell, n_vecs,
       COALESCE(n_dropped, 0) AS n_dropped,
       n_vecs - COALESCE(n_dropped, 0) AS n_kept
FROM base LEFT JOIN dropped USING (cell)
ORDER BY base.cell
"""


PQ_M = 4                 # subspaces
PQ_SUB = DIM // PQ_M     # dims per subspace
PQ_CODES = 4             # codebook entries per subspace


def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C59: product-quantization encoding — the 100 TB embedding
    compression path (Jegou et al., FAISS PQ): the 64-dim vector splits
    into {PQ_M} subspaces and each stores only the id of its nearest
    codebook entry, 64 floats -> {PQ_M} small ints (64x smaller, ADC
    search decodes against the codebook instead of the corpus).

    Codebooks here are the subvectors of a fixed seed set (vec_id <
    {PQ_CODES} — the deterministic stand-in for per-subspace k-means,
    c.f. knn_ivf's trained quantizer). The seed matrix is tiny so it is
    collected once and inlined as literal arrays: encoding is a single
    corpus scan of zip_with/aggregate folds in whole-stage codegen —
    zero joins, zero shuffles (the FAISS encode loop's Spark analog).
    Ties take the lowest code on both engines (array_position returns
    the FIRST index of the min; the oracle's CASE chain tests code 0
    first). err is the exact reconstruction error, summed per-subspace
    in fixed order so the doubles are bit-identical.
    """
    vecs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seed_rows = {
        int(r["vec_id"]): list(r["embedding"])
        for r in vecs.filter(F.col("vec_id") < PQ_CODES).collect()
    }
    out = [F.col("vec_id")]
    mins = []
    for m in range(PQ_M):
        sub = F.slice("embedding", m * PQ_SUB + 1, PQ_SUB)
        dists = []
        for c in range(PQ_CODES):
            lit = F.array(
                *[
                    F.lit(float(x))
                    for x in seed_rows[c][m * PQ_SUB : (m + 1) * PQ_SUB]
                ]
            )
            diff = F.zip_with(
                sub, lit, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
            )
            dists.append(F.aggregate(diff, F.lit(0.0), lambda a, x: a + x))
        darr = F.array(*dists)
        out.append(
            (F.array_position(darr, F.array_min(darr)) - 1)
            .cast("int")
            .alias(f"code{m}")
        )
        mins.append(F.least(*dists))
    err = mins[0]
    for dm in mins[1:]:
        err = err + dm
    out.append(err.alias("recon_err"))
    return vecs.select(*out).orderBy("vec_id")


def _pq_chain_sql(m: int) -> str:
    terms = [
        f"(CAST(v.embedding[{i}] AS DOUBLE) - CAST(s.c[{i}] AS DOUBLE))"
        f" * (CAST(v.embedding[{i}] AS DOUBLE) - CAST(s.c[{i}] AS DOUBLE))"
        for i in range(m * PQ_SUB + 1, (m + 1) * PQ_SUB + 1)
    ]
    return "(0.0 + " + " + ".join(terms) + ")"


def _pq_code_case_sql(m: int) -> str:
    arms = []
    for c in range(PQ_CODES - 1):
        conds = " AND ".join(
            f"d{m}_{c} <= d{m}_{o}" for o in range(PQ_CODES) if o != c
        )
        arms.append(f"WHEN {conds} THEN {c}")
    return "CASE " + " ".join(arms) + f" ELSE {PQ_CODES - 1} END"


PQ_ENCODE_SQL = f"""
WITH s AS (
  SELECT vec_id AS code, embedding AS c FROM embeddings WHERE vec_id < {PQ_CODES}
),
d AS (
  SELECT v.vec_id, s.code,
         {', '.join(f'{_pq_chain_sql(m)} AS dm{m}' for m in range(PQ_M))}
  FROM embeddings v, s
),
agg AS (
  SELECT vec_id,
         {', '.join(f'MIN(CASE WHEN code = {c} THEN dm{m} END) AS d{m}_{c}'
                    for m in range(PQ_M) for c in range(PQ_CODES))}
  FROM d GROUP BY vec_id
)
SELECT vec_id,
       {', '.join(f'CAST({_pq_code_case_sql(m)} AS INT) AS code{m}' for m in range(PQ_M))},
       {' + '.join(f'LEAST({", ".join(f"d{m}_{c}" for c in range(PQ_CODES))})' for m in range(PQ_M))}
         AS recon_err
FROM agg
ORDER BY vec_id
"""


# --- C81: IVF-PQ — the composed production ANN index -------------------

# finer quantization than C59's demo codebook: iid synthetic embeddings
# are PQ's worst case (no subspace correlation to exploit), so the
# operating point that recovers useful recall is 16 subspaces x 32
# codes (measured recall@5 vs exact in-cell L2: 0.53 here, vs 0.16 at
# C59's 4x4). Codebook = subvectors of the first IVFPQ_CODES corpus
# vectors — the deterministic stand-in for per-subspace k-means.
IVFPQ_M = 16
IVFPQ_SUB = DIM // IVFPQ_M
IVFPQ_CODES = 32


def knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C81: IVF-PQ ANN — the FAISS IndexIVFPQ architecture composed
    from the repo's own parts: C25's coarse quantizer partitions the
    corpus into cells, a product quantizer compresses every corpus
    vector to {IVFPQ_M} codes, and each query scans ONLY its cell
    scoring candidates by Asymmetric Distance Computation (ADC): a
    per-query lookup table of |subspace| x |codebook| exact squared-L2
    entries, so a candidate costs {IVFPQ_M} array lookups instead of a
    {DIM}-dim dot product. This is the 100 TB serving layout: codes
    are ~16x smaller than raw vectors, the LUT is built once per
    query, and candidate generation stays cell-local.

    Plan shape: cell assignment and code assignment are both map-side
    literal-fold scans (zero joins — _ivf_assign + per-subspace
    argmin folds); the only shuffle-ish step is the equi-join of the
    coded corpus against the BROADCAST query set on cell id. ADC
    additions run in fixed subspace order m=0..{IVFPQ_M}-1, and each
    LUT entry is the same left-folded (0.0 + t1 + ...) chain the
    oracle states, so the doubles are bit-identical cross-engine. Code
    argmin ties break to the lowest code on both engines
    (array_position takes the FIRST min; the oracle ranks (dm ASC,
    code ASC)); neighbor ties to the lowest neighbor_id. Recall@5 vs
    the exact in-cell L2 ranking is pinned in pytest. Reference
    parity: the warehouse-side ANN scan a Greenplum user would push
    into the MPP layer, at the layout that survives 10^9 vectors.
    """
    from .dedup import _swap_persist

    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    seed_rows = {
        int(r["vec_id"]): list(r["embedding"])
        for r in vecs.filter(F.col("vec_id") < IVFPQ_CODES).collect()
    }
    # the assigned corpus feeds TWO consumers (the coded join side and
    # the collected query rows) — persist it once, swap-bounded
    corpus = _swap_persist(
        "ivfpq_corpus", _ivf_assign_to(vecs, _ivf_train_cached(spark, sf_dir))
    )
    # corpus code assignment runs as Arrow-vectorized numpy inside
    # mapInPandas (the FAISS encode loop is BLAS for the same reason):
    # the expression-tree form is 16x32=512 higher-order-function folds,
    # which Spark evaluates INTERPRETED per element — measured 34.7 s at
    # sf0.1 vs ~2 s vectorized. Bit-identity is preserved by doing the
    # same left fold in the same order with IEEE doubles: d starts at
    # 0.0 and accumulates (x_j - c_j)^2 for j ascending (elementwise
    # numpy adds in sequence == the SQL chain's left association), and
    # argmin takes the FIRST minimum (lowest code), like array_position
    # and the oracle's (dm ASC, code ASC) rank.
    import numpy as np
    import pandas as pd

    cb = np.array(
        [seed_rows[c] for c in range(IVFPQ_CODES)], dtype=np.float64
    ).reshape(IVFPQ_CODES, IVFPQ_M, IVFPQ_SUB)

    def _encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            sub = x.reshape(len(x), IVFPQ_M, IVFPQ_SUB)
            d = np.zeros((len(x), IVFPQ_M, IVFPQ_CODES))
            for j in range(IVFPQ_SUB):
                t = sub[:, :, j][:, :, None] - cb[:, :, j].T[None, :, :]
                d = d + t * t
            codes = d.argmin(axis=2).astype("int32")
            out = {"vec_id": pdf["vec_id"]}
            for m in range(IVFPQ_M):
                out[f"code{m}"] = codes[:, m]
            yield pd.DataFrame(out)

    coded_raw = vecs.select("vec_id", "embedding").mapInPandas(
        _encode,
        schema="vec_id bigint, "
        + ", ".join(f"code{m} int" for m in range(IVFPQ_M)),
    )
    # co-keyed by vec_id (at cluster scale both sides bucket on it; the
    # production variant fuses cells+codes into one pass)
    coded = corpus.select("vec_id", "cell").join(coded_raw, "vec_id")
    # the per-query LUT (16x32 exact fold entries) is built DRIVER-side:
    # the expression-tree form is 512 nested HOF folds whose Catalyst
    # analysis alone cost 13+ s for 20 rows. The query set is tiny by
    # contract (|Q| rows x M x K doubles — the same "collect the tiny
    # side" stance as the trained quantizer), and Python floats ARE
    # IEEE doubles, so the left fold 0.0 + (x-c)^2 + ... in ascending
    # dim order is bit-identical to the oracle's chain. float32 corpus
    # elements widen exactly to double on both paths.
    q_rows = corpus.filter(F.col("vec_id") < IVF_QUERIES).select(
        "vec_id", "cell", "embedding"
    ).collect()
    lut_rows = []
    for r in q_rows:
        emb = [float(x) for x in r["embedding"]]
        luts = []
        for m in range(IVFPQ_M):
            sub = emb[m * IVFPQ_SUB : (m + 1) * IVFPQ_SUB]
            ent = []
            for c in range(IVFPQ_CODES):
                cw = seed_rows[c][m * IVFPQ_SUB : (m + 1) * IVFPQ_SUB]
                acc = 0.0
                for x, y in zip(sub, cw):
                    acc = acc + (x - float(y)) * (x - float(y))
                ent.append(acc)
            luts.append(ent)
        lut_rows.append((int(r["vec_id"]), int(r["cell"]), *luts))
    queries = spark.createDataFrame(
        lut_rows,
        "query_id bigint, cell int, "
        + ", ".join(f"lut{m} array<double>" for m in range(IVFPQ_M)),
    )
    pairs = coded.alias("c").join(
        F.broadcast(queries).alias("q"),
        (F.col("c.cell") == F.col("q.cell"))
        & (F.col("c.vec_id") != F.col("q.query_id")),
    )
    adc = F.element_at(F.col("q.lut0"), F.col("c.code0") + 1)
    for m in range(1, IVFPQ_M):
        adc = adc + F.element_at(F.col(f"q.lut{m}"), F.col(f"c.code{m}") + 1)
    w_rank = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc("neighbor_id")
    )
    return (
        pairs.select(
            F.col("q.query_id").alias("query_id"),
            F.col("q.cell").cast("bigint").alias("cell"),
            F.col("c.vec_id").alias("neighbor_id"),
            adc.alias("adc_d2"),
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= IVF_TOPK)
        .select("query_id", "cell", "rank", "neighbor_id", "adc_d2")
        .orderBy("query_id", "rank")
    )


def _ivfpq_chain_sql(m: int) -> str:
    """Squared-L2 chain between v.embedding's m-th subvector and the
    same subvector of codebook row s.c (absolute dims) — textually the
    same left-folded chain as the Spark aggregate fold."""
    terms = [
        f"(CAST(v.embedding[{i}] AS DOUBLE) - CAST(s.c[{i}] AS DOUBLE))"
        f" * (CAST(v.embedding[{i}] AS DOUBLE) - CAST(s.c[{i}] AS DOUBLE))"
        for i in range(m * IVFPQ_SUB + 1, (m + 1) * IVFPQ_SUB + 1)
    ]
    return "(0.0 + " + " + ".join(terms) + ")"


def _adc_chain_sql(m: int) -> str:
    """Same chain, between the query vector q.qe and the codebook row
    the candidate's m-th code selected (s{m}.c)."""
    terms = [
        f"(CAST(q.qe[{i}] AS DOUBLE) - CAST(s{m}.c[{i}] AS DOUBLE))"
        f" * (CAST(q.qe[{i}] AS DOUBLE) - CAST(s{m}.c[{i}] AS DOUBLE))"
        for i in range(m * IVFPQ_SUB + 1, (m + 1) * IVFPQ_SUB + 1)
    ]
    return "(0.0 + " + " + ".join(terms) + ")"


KNN_IVFPQ_SQL = f"""
WITH ve AS (
  SELECT vec_id, label,
         unnest(range(1, len(embedding) + 1)) AS dim,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE), 6) AS DECIMAL(16,6)) AS rv
  FROM embeddings
),
cent AS (
  SELECT label AS cell, dim,
         CAST(ROUND(CAST(ROUND(SUM(rv), 6) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(16,6)) AS c6
  FROM ve GROUP BY label, dim
),
assigned AS (
  SELECT ve.vec_id, cent.cell, SUM((ve.rv - cent.c6) * (ve.rv - cent.c6)) AS dist2
  FROM ve JOIN cent ON ve.dim = cent.dim
  GROUP BY ve.vec_id, cent.cell
),
cellsv AS (
  SELECT vec_id, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cell ASC) AS rn
    FROM assigned
  ) WHERE rn = 1
),
s AS (
  SELECT vec_id AS code, embedding AS c FROM embeddings WHERE vec_id < {IVFPQ_CODES}
),
d AS (
  SELECT v.vec_id, s.code,
         {', '.join(f'{_ivfpq_chain_sql(m)} AS dm{m}' for m in range(IVFPQ_M))}
  FROM embeddings v, s
),
dlong AS (
  {' UNION ALL '.join(f'SELECT vec_id, code, {m} AS m, dm{m} AS dm FROM d'
                      for m in range(IVFPQ_M))}
),
codes_long AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m
                              ORDER BY dm ASC, code ASC) AS rn
    FROM dlong
  ) WHERE rn = 1
),
codes AS (
  SELECT vec_id,
         {', '.join(f'CAST(MAX(CASE WHEN m = {m} THEN code END) AS INT) AS code{m}'
                    for m in range(IVFPQ_M))}
  FROM codes_long GROUP BY vec_id
),
corpus AS (
  SELECT cv.vec_id, cv.cell, {', '.join(f'co.code{m}' for m in range(IVFPQ_M))}
  FROM cellsv cv JOIN codes co ON cv.vec_id = co.vec_id
),
q AS (
  SELECT e.vec_id AS query_id, cv.cell, e.embedding AS qe
  FROM embeddings e JOIN cellsv cv ON e.vec_id = cv.vec_id
  WHERE e.vec_id < {IVF_QUERIES}
),
scored AS (
  SELECT q.query_id, CAST(q.cell AS BIGINT) AS cell, c.vec_id AS neighbor_id,
         {' + '.join(f'{_adc_chain_sql(m)}' for m in range(IVFPQ_M))} AS adc_d2
  FROM corpus c
  JOIN q ON c.cell = q.cell AND c.vec_id <> q.query_id
  {' '.join(f'JOIN s s{m} ON s{m}.code = c.code{m}' for m in range(IVFPQ_M))}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_d2 ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, cell, rank, neighbor_id, adc_d2
FROM ranked WHERE rank <= {IVF_TOPK}
ORDER BY query_id, rank
"""


# --- C82: incremental IVF index maintenance ----------------------------

IVFUPD_MOD = 5      # every 5th vector plays the "newly arrived" batch
IVFUPD_RETRAIN_BP = 2200  # growth (basis points) that flags a retrain


def ivf_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C82: merge a new embedding batch into an existing IVF index
    WITHOUT retraining — the maintenance operation every production ANN
    deployment runs between full rebuilds (FAISS add() on a trained
    index). The base corpus (vec_id % {IVFUPD_MOD} != 0) trains the
    coarse quantizer; the arriving batch (vec_id % {IVFUPD_MOD} == 0)
    is assigned to those FROZEN centroids. The output is the per-cell
    maintenance audit the index manager acts on: base/new counts,
    growth in basis points (scaled-integer floor division — never
    ROUND(double)), and the retrain flag for cells whose drift passed
    {IVFUPD_RETRAIN_BP} bp.

    Plan shape: training is C25's one posexplode + map-side groupBy
    over the base only; both assignments are map-side literal-fold
    scans of the SAME frozen centroid set (the whole point — no
    second training pass, no join); the audit is one groupBy(cell).
    At 100 TB the arriving batch streams through assignment at scan
    speed and the audit is |cells| rows. Reference parity: the index
    upkeep a warehouse ANN layer needs between Greenplum-style full
    REINDEX passes.
    """
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    base = vecs.filter(F.col("vec_id") % IVFUPD_MOD != 0)
    batch = vecs.filter(F.col("vec_id") % IVFUPD_MOD == 0)
    frozen = _ivf_train(base)  # centroids trained on the BASE only
    tagged = _ivf_assign_to(base, frozen).select(
        "cell", F.lit(0).alias("is_new")
    ).unionByName(
        _ivf_assign_to(batch, frozen).select(
            "cell", F.lit(1).alias("is_new")
        )
    )
    return (
        tagged.groupBy("cell")
        .agg(
            F.sum(F.expr("1 - is_new")).alias("n_base"),
            F.sum("is_new").alias("n_new"),
        )
        .select(
            F.col("cell").cast("bigint").alias("cell"),
            "n_base",
            "n_new",
            F.expr(
                "CASE WHEN n_base > 0 THEN (n_new * 10000) div n_base END"
            ).alias("growth_bp"),
            # CASE, not OR: DuckDB does not guarantee short-circuit, so
            # the n_base = 0 arm must fire before the division exists
            F.expr(
                f"CASE WHEN n_base = 0 THEN 1 "
                f"WHEN (n_new * 10000) div n_base > {IVFUPD_RETRAIN_BP} "
                f"THEN 1 ELSE 0 END"
            ).alias("needs_retrain"),
        )
        .orderBy("cell")
    )


IVF_INDEX_UPDATE_SQL = f"""
WITH ve AS (
  SELECT vec_id, label,
         unnest(range(1, len(embedding) + 1)) AS dim,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE), 6) AS DECIMAL(16,6)) AS rv
  FROM embeddings
),
cent AS (
  SELECT label AS cell, dim,
         CAST(ROUND(CAST(ROUND(SUM(rv), 6) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(16,6)) AS c6
  FROM ve WHERE vec_id % {IVFUPD_MOD} <> 0
  GROUP BY label, dim
),
assigned AS (
  SELECT ve.vec_id, cent.cell, SUM((ve.rv - cent.c6) * (ve.rv - cent.c6)) AS dist2
  FROM ve JOIN cent ON ve.dim = cent.dim
  GROUP BY ve.vec_id, cent.cell
),
cellsv AS (
  SELECT vec_id, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cell ASC) AS rn
    FROM assigned
  ) WHERE rn = 1
),
counts AS (
  SELECT cell,
         CAST(SUM(CASE WHEN vec_id % {IVFUPD_MOD} <> 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_base,
         CAST(SUM(CASE WHEN vec_id % {IVFUPD_MOD} = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_new
  FROM cellsv GROUP BY cell
)
SELECT CAST(cell AS BIGINT) AS cell, n_base, n_new,
       CAST(CASE WHEN n_base > 0 THEN (n_new * 10000) // n_base END
            AS BIGINT) AS growth_bp,
       CAST(CASE WHEN n_base = 0 THEN 1
            WHEN (n_new * 10000) // n_base > {IVFUPD_RETRAIN_BP} THEN 1
            ELSE 0 END AS INT) AS needs_retrain
FROM counts
ORDER BY cell
"""


OUTLIER_TOPN = 5


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C64: embedding-space outlier audit — the top-{OUTLIER_TOPN}
    farthest vectors from their own label centroid, per label.

    The curation QA pass behind 'inspect the weirdest examples per
    class': mislabeled / corrupted / off-distribution embeddings rank
    first. Centroid training is knn_ivf's exact chain (posexplode ->
    micro-unit LONG sums -> the shared decimal->double->6dp rounding,
    similarity.py:knn_ivf) and the trained matrix is inlined as
    literals, so the distance scan is map-side folds in codegen — zero
    joins. Distances are exact integer micro-unit squares (bit-identical
    to the oracle's DECIMAL form scaled 1e12); the per-label top-K
    window is partitioned (parallel), K*|labels| rows out.
    """
    vecs = load_table(spark, sf_dir, "embeddings")
    # r11: training is LITERALLY knn_ivf's chain (same ve/cent plan,
    # same decimal->double->6dp rounding), so it rides the shared
    # `_ivf_train_cached` memo instead of re-collecting per invocation;
    # the distance scan computes each row's OWN-label distance in numpy
    # (`_ivf_own_cell_dist_np`) instead of evaluating a |cells|-wide
    # interpreted fold map per row and indexing it by label
    # (VERDICT r10 item 3).
    by_cell = _ivf_train_cached(spark, sf_dir)
    w = Window.partitionBy("label").orderBy(F.desc("dist2_u"), F.asc("vec_id"))
    return (
        _ivf_own_cell_dist_np(vecs, by_cell)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= OUTLIER_TOPN)
        .select("label", "rk", "vec_id", "dist2_u")
        .orderBy("label", "rk")
    )


EMBEDDING_OUTLIERS_SQL = f"""
WITH ve AS (
  SELECT vec_id, label,
         unnest(range(1, len(embedding) + 1)) AS dim,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE), 6) AS DECIMAL(16,6)) AS rv
  FROM embeddings
),
cent AS (
  SELECT label AS cell, dim,
         CAST(ROUND(CAST(ROUND(SUM(rv), 6) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(16,6)) AS c6
  FROM ve GROUP BY label, dim
),
dist AS (
  SELECT ve.vec_id, ve.label,
         CAST(SUM(CAST((ve.rv - cent.c6) * 1000000 AS BIGINT)
                  * CAST((ve.rv - cent.c6) * 1000000 AS BIGINT))
              AS BIGINT) AS dist2_u
  FROM ve JOIN cent ON ve.dim = cent.dim AND ve.label = cent.cell
  GROUP BY ve.vec_id, ve.label
),
ranked AS (
  SELECT label, vec_id, dist2_u,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY dist2_u DESC, vec_id ASC) AS rk
  FROM dist
)
SELECT label, rk, vec_id, dist2_u
FROM ranked WHERE rk <= {OUTLIER_TOPN}
ORDER BY label, rk
"""


# --- C77: contrastive hard-negative mining -----------------------------

HNM_BASE_MOD = 25   # query-stride at the 500-vector reference corpus
HNM_REF_N = 500


def _hnm_mod(n: int) -> int:
    """Query stride grows as sqrt(N): |Q| ~ sqrt(N)-proportional, so
    the positive join's pair mass (|Q| * N/L) stays ~N^1.5 — the same
    balance point as semantic_dedup's sqrt-cells. Both engines derive
    it from COUNT(*) with the same IEEE double ops."""
    import math

    return max(
        HNM_BASE_MOD,
        int(math.floor(math.sqrt(float(n)) * HNM_BASE_MOD / math.sqrt(float(HNM_REF_N)))),
    )


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C77: contrastive-pair mining for embedding training — for each
    query vector, the nearest SAME-label vector (positive) and the
    nearest OTHER-label vector in its coarse cell (hard negative), with
    the margin between them.

    The candidate sets are the two bounded joins every production miner
    uses: positives block on the label (|Q|·N/L pairs), negatives block
    on the IVF cell (|Q|·N/k pairs, k = max(8, floor(sqrt N)) — the
    same sqrt-cell balance as semantic_dedup C58), never all-pairs.
    The in-cell restriction makes the negative the *approximate*
    nearest — which is the point: SimCLR/DPR-style miners want hard
    (close) negatives from an ANN index, not the global argmin. All
    distances are exact integer µ-unit squares (bit-identical across
    engines, embedding_outliers idiom); argmins tie-break on vec_id.
    Queries whose cell holds no other-label vector emit a NULL negative
    (visible, not dropped).

    At 100 TB: assignment is N·k map-side folds against broadcast
    seeds; both candidate joins are equi-joins with per-row zip_with
    folds in codegen. Output: |Q| rows.
    """
    import math

    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    u_arr = F.transform(
        F.col("embedding"),
        lambda x: (
            F.round(x.cast("double"), 6).cast("decimal(16,6)") * F.lit(1_000_000)
        ).cast("long"),
    )
    uv = vecs.select("vec_id", "label", u_arr.alias("u"))
    n = uv.count()
    k = max(8, int(math.floor(math.sqrt(float(n)))))
    qmod = _hnm_mod(n)
    seeds = uv.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("seed_id"), F.col("u").alias("su")
    )

    def dist2(a: str, b: str):
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    w_cell = Window.partitionBy("vec_id").orderBy("d", "seed_id")
    cells = (
        uv.crossJoin(F.broadcast(seeds))
        .select("vec_id", "label", "u", "seed_id", dist2("u", "su").alias("d"))
        .withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "u", F.col("seed_id").alias("cell"))
    )
    from .dedup import _swap_persist

    cells = _swap_persist("hnm_cells", cells)
    q = cells.filter(F.col("vec_id") % qmod == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("u").alias("qu"),
        F.col("cell").alias("q_cell"),
    )
    w_pos = Window.partitionBy("q_id").orderBy("d", "c_id")
    pos = (
        q.join(
            cells.select(
                F.col("vec_id").alias("c_id"),
                F.col("label").alias("c_label"),
                F.col("u").alias("cu"),
            ),
            (F.col("q_label") == F.col("c_label"))
            & (F.col("q_id") != F.col("c_id")),
        )
        .select("q_id", "c_id", dist2("qu", "cu").alias("d"))
        .withColumn("rn", F.row_number().over(w_pos))
        .filter(F.col("rn") == 1)
        .select("q_id", F.col("c_id").alias("pos_id"), F.col("d").alias("pos_dist2_u"))
    )
    neg = (
        q.join(
            cells.select(
                F.col("vec_id").alias("c_id"),
                F.col("label").alias("c_label"),
                F.col("u").alias("cu"),
                F.col("cell").alias("c_cell"),
            ),
            (F.col("q_cell") == F.col("c_cell"))
            & (F.col("q_label") != F.col("c_label")),
        )
        .select("q_id", "c_id", dist2("qu", "cu").alias("d"))
        .withColumn("rn", F.row_number().over(w_pos))
        .filter(F.col("rn") == 1)
        .select("q_id", F.col("c_id").alias("neg_id"), F.col("d").alias("neg_dist2_u"))
    )
    return (
        q.select("q_id", "q_label", "q_cell")
        .join(pos, "q_id", "left")
        .join(neg, "q_id", "left")
        .select(
            "q_id",
            "q_label",
            "q_cell",
            "pos_id",
            "pos_dist2_u",
            "neg_id",
            "neg_dist2_u",
            (F.col("neg_dist2_u") - F.col("pos_dist2_u")).alias("margin_u"),
        )
        .orderBy("q_id")
    )


HARD_NEGATIVE_SQL = f"""
WITH uvec AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(CAST(ROUND(CAST(x AS DOUBLE), 6) AS DECIMAL(16,6)) * 1000000
                     AS BIGINT)) AS u
  FROM embeddings
),
kk AS (
  SELECT GREATEST(8, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS k FROM embeddings
),
seeds AS (
  SELECT vec_id AS seed_id, u AS su FROM uvec, kk WHERE vec_id < kk.k
),
assign AS (
  SELECT vec_id, label, u, seed_id,
         list_sum(list_transform(range(1, len(u) + 1),
           i -> (u[i] - su[i]) * (u[i] - su[i]))) AS d,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY list_sum(list_transform(range(1, len(u) + 1),
                              i -> (u[i] - su[i]) * (u[i] - su[i]))) ASC,
                            seed_id ASC) AS rn
  FROM uvec, seeds
),
cells AS (
  SELECT vec_id, label, u, seed_id AS cell FROM assign WHERE rn = 1
),
qmod AS (
  SELECT GREATEST({HNM_BASE_MOD}, CAST(FLOOR(
           SQRT(COUNT(*)) * {HNM_BASE_MOD} / SQRT({HNM_REF_N}.0)) AS BIGINT)) AS m
  FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, label AS q_label, u AS qu, cell AS q_cell
  FROM cells, qmod WHERE vec_id % qmod.m = 0
),
pos AS (
  SELECT q_id, c_id AS pos_id, d AS pos_dist2_u
  FROM (
    SELECT q.q_id, c.vec_id AS c_id,
           CAST(list_sum(list_transform(range(1, len(q.qu) + 1),
             i -> (q.qu[i] - c.u[i]) * (q.qu[i] - c.u[i]))) AS BIGINT) AS d,
           ROW_NUMBER() OVER (PARTITION BY q.q_id
             ORDER BY list_sum(list_transform(range(1, len(q.qu) + 1),
               i -> (q.qu[i] - c.u[i]) * (q.qu[i] - c.u[i]))) ASC,
               c.vec_id ASC) AS rn
    FROM q JOIN cells c ON c.label = q.q_label AND c.vec_id <> q.q_id
  ) WHERE rn = 1
),
neg AS (
  SELECT q_id, c_id AS neg_id, d AS neg_dist2_u
  FROM (
    SELECT q.q_id, c.vec_id AS c_id,
           CAST(list_sum(list_transform(range(1, len(q.qu) + 1),
             i -> (q.qu[i] - c.u[i]) * (q.qu[i] - c.u[i]))) AS BIGINT) AS d,
           ROW_NUMBER() OVER (PARTITION BY q.q_id
             ORDER BY list_sum(list_transform(range(1, len(q.qu) + 1),
               i -> (q.qu[i] - c.u[i]) * (q.qu[i] - c.u[i]))) ASC,
               c.vec_id ASC) AS rn
    FROM q JOIN cells c ON c.cell = q.q_cell AND c.label <> q.q_label
  ) WHERE rn = 1
)
SELECT q.q_id, q.q_label, q.q_cell,
       p.pos_id, p.pos_dist2_u, n.neg_id, n.neg_dist2_u,
       n.neg_dist2_u - p.pos_dist2_u AS margin_u
FROM q
LEFT JOIN pos p ON p.q_id = q.q_id
LEFT JOIN neg n ON n.q_id = q.q_id
ORDER BY q.q_id
"""


# --- C86: embedding distribution drift ---------------------------------

_DRIFT_TOPN = 10


def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C86: per-dimension distribution drift between two embedding
    snapshots — the monitoring pass that catches a silently-changed
    encoder or a corrupted ingestion batch before it poisons training.
    The reference split is deterministic (vec_id parity stands in for
    "last week's corpus" vs "this week's"); per dimension the exact
    micro-unit means are compared and the top-{_DRIFT_TOPN} drifted
    dims ranked.

    All integer-exact: elements → 6-dp micro-unit longs (the repo's
    embedding idiom), per-(half, dim) LONG sums via ONE posexplode +
    map-side-combined groupBy, means as scaled floor division with
    sign decomposition (drift can be negative; both engines truncate
    identically on non-negative operands). |drift| ranks with dim as
    tiebreak. At 100 TB: one corpus scan, 2·DIM aggregate rows —
    mergeable partials, the same plan as any SUM.
    """
    vecs = load_table(spark, sf_dir, "embeddings")
    ve = vecs.select(
        (F.col("vec_id") % 2).cast("int").alias("half"),
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "half",
        (F.col("pos") + 1).alias("dim"),
        (
            F.round(F.col("v").cast("double"), 6).cast("decimal(16,6)")
            * F.lit(1_000_000)
        ).cast("long").alias("u"),
    )
    agg = ve.groupBy("dim").agg(
        F.sum(F.when(F.col("half") == 0, F.col("u"))).alias("s_ref"),
        F.count(F.when(F.col("half") == 0, F.lit(1))).alias("n_ref"),
        F.sum(F.when(F.col("half") == 1, F.col("u"))).alias("s_cur"),
        F.count(F.when(F.col("half") == 1, F.lit(1))).alias("n_cur"),
    )
    # sign-decomposed scaled mean: mean_u = trunc(s / n) toward zero
    mean = (
        "CASE WHEN {s} >= 0 THEN {s} div {n} ELSE -((-{s}) div {n}) END"
    )
    ref_u = mean.format(s="s_ref", n="n_ref")
    cur_u = mean.format(s="s_cur", n="n_cur")
    scored = agg.select(
        F.col("dim").cast("bigint").alias("dim"),
        "n_ref",
        "n_cur",
        F.expr(ref_u).alias("ref_mean_u"),
        F.expr(cur_u).alias("cur_mean_u"),
        F.expr(f"({cur_u}) - ({ref_u})").alias("drift_u"),
    )
    w = Window.orderBy(F.desc(F.abs(F.col("drift_u"))), F.asc("dim"))
    return (
        scored.withColumn("drift_rank", F.row_number().over(w))
        .filter(F.col("drift_rank") <= _DRIFT_TOPN)
        .select(
            "drift_rank",
            "dim",
            "n_ref",
            "n_cur",
            "ref_mean_u",
            "cur_mean_u",
            "drift_u",
        )
        .orderBy("drift_rank")
    )


_DRIFT_MEAN = (
    "CASE WHEN {s} >= 0 THEN {s} // {n} ELSE -((-{s}) // {n}) END"
)

EMBEDDING_DRIFT_SQL = f"""
WITH ve AS (
  SELECT CAST(vec_id % 2 AS INT) AS half,
         unnest(range(1, len(embedding) + 1)) AS dim,
         CAST(CAST(ROUND(CAST(unnest(embedding) AS DOUBLE), 6)
              AS DECIMAL(16,6)) * 1000000 AS BIGINT) AS u
  FROM embeddings
),
agg AS (
  SELECT dim,
         CAST(SUM(CASE WHEN half = 0 THEN u END) AS BIGINT) AS s_ref,
         COUNT(CASE WHEN half = 0 THEN 1 END) AS n_ref,
         CAST(SUM(CASE WHEN half = 1 THEN u END) AS BIGINT) AS s_cur,
         COUNT(CASE WHEN half = 1 THEN 1 END) AS n_cur
  FROM ve GROUP BY dim
),
scored AS (
  SELECT dim, n_ref, n_cur,
         CAST({_DRIFT_MEAN.format(s='s_ref', n='n_ref')} AS BIGINT)
           AS ref_mean_u,
         CAST({_DRIFT_MEAN.format(s='s_cur', n='n_cur')} AS BIGINT)
           AS cur_mean_u,
         CAST(({_DRIFT_MEAN.format(s='s_cur', n='n_cur')})
              - ({_DRIFT_MEAN.format(s='s_ref', n='n_ref')}) AS BIGINT)
           AS drift_u
  FROM agg
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY abs(drift_u) DESC, dim ASC) AS INT)
         AS drift_rank,
       dim, n_ref, n_cur, ref_mean_u, cur_mean_u, drift_u
FROM scored
QUALIFY drift_rank <= {_DRIFT_TOPN}
ORDER BY drift_rank
"""


# --- C93 (round 6): dimension-ablation recall — the matryoshka eval ----

ABLATION_DIMS = (8, 16, 32)  # truncation budgets evaluated against DIM=64


def _dot_pfx(a: str, b: str, d: int):
    """Strict left-fold dot product over the FIRST ``d`` dims — the
    truncated twin of ``_dot`` (same IEEE order, same double math)."""
    prod = F.zip_with(
        F.slice(F.col(a), 1, d),
        F.slice(F.col(b), 1, d),
        lambda x, y: x.cast("double") * y.cast("double"),
    )
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def _dot_pfx_sql(a: str, b: str, d: int) -> str:
    """DuckDB twin: explicit left-assoc chain over the first d dims."""
    terms = [
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, d + 1)
    ]
    return "(0.0 + " + " + ".join(terms) + ")"


def embedding_dim_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C93: dimension-ablation recall — how much of full-dim top-k
    survives when the search runs on a PREFIX of the embedding
    (the matryoshka-truncation eval a pipeline runs before adopting
    truncated vectors as a cheap first-stage filter).

    For each budget d in ABLATION_DIMS: cosine over the first d dims
    (prefix norms on both sides), top-{TOPK} per query with the
    deterministic (cos DESC, vec_id ASC) tie-break, intersected with
    the full-{DIM} top-{TOPK} truth. Output per budget: hit count and
    recall in integer basis points (integer division — the repo's
    engine-divergence-proof idiom; cosines themselves are bit-identical
    across engines via the strict left-fold).

    Scale shape: ONE corpus scan computes every budget's dot/norm
    column (slice+fold are map-side), queries are broadcast, and the
    per-(budget, query) rank windows shuffle only the tiny
    |queries| x |corpus| x |budgets| scored frame — bounded by the
    N_QUERIES eval contract exactly like knn_recall_eval (C33). At
    10^9 vectors the truth pass rides the same ANN serving path the
    other C-rows provide; the eval contract is a fixed query stride.
    """
    vecs = load_table(spark, sf_dir, "embeddings")
    all_dims = (*ABLATION_DIMS, DIM)
    # one numpy pass emits the whole (dim_budget, cos) stack — prefix
    # snapshots at each budget boundary, bit-identical to the former
    # per-budget _dot_pfx folds (r10, see _np_query_scores)
    stacked = _np_query_scores(spark, sf_dir, N_QUERIES, dims=all_dims)
    w = Window.partitionBy("dim_budget", "query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    topk = (
        stacked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("dim_budget", "query_id", "neighbor_id")
    )
    truth = topk.filter(F.col("dim_budget") == DIM).select(
        "query_id", "neighbor_id"
    )
    # lazy 1-row query count (a driver-side .count() here would run an
    # extra build-time job every time the plan is constructed — the
    # same eager-at-build smell the round-6 double-execution fixes
    # removed elsewhere; the SQL twin's nq subquery is the same shape)
    nq = vecs.filter(F.col("vec_id") < N_QUERIES).agg(
        F.count("*").alias("_nq")
    )
    return (
        topk.filter(F.col("dim_budget") != DIM)
        .join(truth, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("dim_budget")
        .agg(F.count("*").alias("n_hits"))
        .crossJoin(F.broadcast(nq))
        .withColumn(
            "recall_bp",
            F.expr(f"(n_hits * 10000) div (_nq * {TOPK})"),
        )
        .drop("_nq")
        .orderBy("dim_budget")
    )


def _ablation_sql() -> str:
    dims = (*ABLATION_DIMS, DIM)
    norm_cols = ",\n         ".join(
        f"sqrt({_dot_pfx_sql('embedding', 'embedding', d)}) AS n{d}"
        for d in dims
    )
    cos_cols = ",\n         ".join(
        f"{_dot_pfx_sql('q.qe', 'v.embedding', d)} / (q.qn{d} * v.n{d}) AS c{d}"
        for d in dims
    )
    qn_cols = ", ".join(f"n{d} AS qn{d}" for d in dims)
    unions = "\n  UNION ALL\n  ".join(
        f"SELECT query_id, neighbor_id, {d} AS dim_budget, c{d} AS cos_sim FROM scored"
        for d in dims
    )
    return f"""
WITH v AS (
  SELECT vec_id, embedding,
         {norm_cols}
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qe, {qn_cols}
      FROM v WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         {cos_cols}
  FROM v JOIN q ON v.vec_id <> q.query_id
),
stacked AS (
  {unions}
),
topk AS (
  SELECT dim_budget, query_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY dim_budget, query_id
                                     ORDER BY cos_sim DESC, neighbor_id ASC)
               AS rank
        FROM stacked)
  WHERE rank <= {TOPK}
),
truth AS (SELECT query_id, neighbor_id FROM topk WHERE dim_budget = {DIM}),
nq AS (SELECT COUNT(*) AS n FROM q)
SELECT t.dim_budget, COUNT(*) AS n_hits,
       (COUNT(*) * 10000) // ((SELECT n FROM nq) * {TOPK}) AS recall_bp
FROM topk t
JOIN truth USING (query_id, neighbor_id)
WHERE t.dim_budget <> {DIM}
GROUP BY t.dim_budget
ORDER BY t.dim_budget
"""


EMBEDDING_DIM_ABLATION_SQL = _ablation_sql()


# --- C94 (round 6): IVF recall-vs-nprobe sweep — the tuning table -------

IVF_NPROBES = (1, 2, 4)


def ivf_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C94: the IVF tuning table — recall@k AND scan cost as a function
    of nprobe, against the exact full-scan truth. C25 fixes nprobe=1;
    this is the sweep an operator actually runs to pick the
    recall/latency point before deploying the index (the FAISS
    `nprobe` knob), in one job.

    Per query: cells ranked by the SAME exact int64 micro-unit
    distance the coarse quantizer uses (ties to the smaller cell id),
    budgets stacked so one candidate frame serves every nprobe in
    {IVF_NPROBES}. Output per nprobe: hit count vs the full-scan
    top-{IVF_TOPK}, recall in integer basis points, and n_scanned —
    the scored-pair count that IS the cost axis of the tradeoff.

    Scale shape: quantizer training + assignment are C25's (one
    posexplode groupBy + literal-fold scan, no joins); the probe
    ranking is |queries| x |cells| rows; candidates are cell-local and
    bounded by nprobe/nlist of the corpus per query — the whole sweep
    is ONE candidate-generation pass, not one per budget.
    """
    vecs = load_table(spark, sf_dir, "embeddings")
    by_cell = _ivf_train_cached(spark, sf_dir)
    np_max = max(IVF_NPROBES)

    # per-query probe-cell ranking: the SAME exact int64 distances as
    # the assignment (|queries| x |cells| rows — tiny). r11: the
    # distances come from `_ivf_cell_dists_np` (numpy, one MapInPandas)
    # instead of `_cell_dists`' |cells|-wide interpreted fold tree —
    # identical integers, same (dist ASC, cell ASC) tie rule, the JVM
    # window unchanged (VERDICT r10 item 3).
    qvecs = vecs.filter(F.col("vec_id") < IVF_QUERIES)
    w_probe = Window.partitionBy("query_id").orderBy(
        F.asc("dist2_u"), F.asc("cell")
    )
    probe_cells = (
        _ivf_cell_dists_np(qvecs, by_cell)
        .select(F.col("vec_id").alias("query_id"), "cell", "dist2_u")
        .withColumn("probe_rank", F.row_number().over(w_probe))
        .filter(F.col("probe_rank") <= np_max)
        .drop("dist2_u")
    )

    # r11: the probe scoring reuses the SAME vectorized all-pairs frame
    # the truth pass already computes — the sweep's query set IS the
    # `_np_query_scores` query set, so a candidate (query, neighbor,
    # cos) row is the all-pairs row restricted to the probed cells.
    # This sheds the last three fold subtrees of the op (corpus norm,
    # query norm, per-candidate cos fold — |cand| x DIM interpreted
    # ops); cos values are bit-identical by the r10 `_np_query_scores`
    # argument (per-dim accumulation == the fold's left-assoc IEEE
    # order — driver-proven on C6's raw cosines), and self-pairs are
    # excluded in both formulations.
    scored_all = _np_query_scores(spark, sf_dir, IVF_QUERIES)
    corpus_cells = _ivf_assign_to(vecs, by_cell).select(
        F.col("vec_id").alias("neighbor_id"), "cell"
    )
    scored = (
        scored_all.join(corpus_cells.hint("shuffle_hash"), "neighbor_id")
        .join(F.broadcast(probe_cells), ["query_id", "cell"])
        .select("query_id", "neighbor_id", "probe_rank", "cos_sim")
    )
    # stack budgets: a candidate serves every nprobe >= its probe_rank
    stacked = scored.select(
        "query_id",
        "neighbor_id",
        "cos_sim",
        F.explode(
            F.filter(
                F.array(*[F.lit(n) for n in IVF_NPROBES]),
                lambda n: n >= F.col("probe_rank"),
            )
        ).alias("nprobe"),
    )
    w_rank = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    topk = (
        stacked.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= IVF_TOPK)
        .select("nprobe", "query_id", "neighbor_id")
    )

    # exact full-scan truth (the C6 shape at the C25 constants) —
    # scored via the vectorized `_np_query_scores` (r10): same query
    # set (vec_id < IVF_QUERIES), same norms (bit-identical per-dim
    # accumulation), same window
    w_truth = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    truth = (
        _np_query_scores(spark, sf_dir, IVF_QUERIES)
        .withColumn("rank", F.row_number().over(w_truth))
        .filter(F.col("rank") <= IVF_TOPK)
        .select("query_id", "neighbor_id")
    )

    nq = vecs.filter(F.col("vec_id") < IVF_QUERIES).agg(
        F.count("*").alias("_nq")
    )  # lazy, like the SQL twin
    hits = (
        topk.join(truth, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("nprobe")
        .agg(F.count("*").alias("n_hits"))
    )
    scanned = stacked.groupBy("nprobe").agg(
        F.count("*").alias("n_scanned")
    )
    return (
        hits.join(scanned, "nprobe")
        .crossJoin(F.broadcast(nq))
        .withColumn(
            "recall_bp", F.expr(f"(n_hits * 10000) div (_nq * {IVF_TOPK})")
        )
        .select("nprobe", "n_hits", "recall_bp", "n_scanned")
        .orderBy("nprobe")
    )


IVF_RECALL_SWEEP_SQL = f"""
WITH ve AS (
  SELECT vec_id, label,
         unnest(range(1, len(embedding) + 1)) AS dim,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE), 6) AS DECIMAL(16,6)) AS rv
  FROM embeddings
),
cent AS (
  SELECT label AS cell, dim,
         CAST(ROUND(CAST(ROUND(SUM(rv), 6) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(16,6)) AS c6
  FROM ve GROUP BY label, dim
),
assigned AS (
  SELECT ve.vec_id, cent.cell, SUM((ve.rv - cent.c6) * (ve.rv - cent.c6)) AS dist2
  FROM ve JOIN cent ON ve.dim = cent.dim
  GROUP BY ve.vec_id, cent.cell
),
cells AS (
  SELECT vec_id, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cell ASC) AS rn
    FROM assigned
  ) WHERE rn = 1
),
vn AS (
  SELECT vec_id, embedding, sqrt({_dot_sql('embedding', 'embedding')}) AS norm
  FROM embeddings
),
corpus AS (
  SELECT cells.vec_id, cells.cell, vn.embedding, vn.norm
  FROM cells JOIN vn ON cells.vec_id = vn.vec_id
),
q AS (
  SELECT vec_id AS query_id, embedding AS qe, norm AS qn
  FROM vn WHERE vec_id < {IVF_QUERIES}
),
probes AS (
  SELECT a.vec_id AS query_id, a.cell,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY a.dist2 ASC, a.cell ASC) AS probe_rank
  FROM assigned a WHERE a.vec_id < {IVF_QUERIES}
),
budgets AS (SELECT UNNEST([{", ".join(str(n) for n in IVF_NPROBES)}]) AS nprobe),
stacked AS (
  SELECT b.nprobe, p.query_id, c.vec_id AS neighbor_id,
         {_dot_sql('q.qe', 'c.embedding')} / (q.qn * c.norm) AS cos_sim
  FROM probes p
  JOIN budgets b ON p.probe_rank <= b.nprobe
  JOIN corpus c ON c.cell = p.cell AND c.vec_id <> p.query_id
  JOIN q ON q.query_id = p.query_id
),
topk AS (
  SELECT nprobe, query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
                                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM stacked
  ) WHERE rank <= {IVF_TOPK}
),
tpairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_dot_sql('q.qe', 'c.embedding')} / (q.qn * c.norm) AS cos_sim
  FROM corpus c JOIN q ON c.vec_id <> q.query_id
),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM tpairs
  ) WHERE rank <= {IVF_TOPK}
),
nq AS (SELECT COUNT(*) AS n FROM q),
hits AS (
  SELECT t.nprobe, COUNT(*) AS n_hits
  FROM topk t JOIN truth USING (query_id, neighbor_id)
  GROUP BY t.nprobe
),
scanned AS (SELECT nprobe, COUNT(*) AS n_scanned FROM stacked GROUP BY nprobe)
SELECT h.nprobe, h.n_hits,
       (h.n_hits * 10000) // ((SELECT n FROM nq) * {IVF_TOPK}) AS recall_bp,
       s.n_scanned
FROM hits h JOIN scanned s USING (nprobe)
ORDER BY h.nprobe
"""


# --- C100 (round-8 addition): exact integer embedding covariance --------

_COV_SCALE = 1000  # fixed-point quantization: q = floor(v * 1000)
_COV_DIM = 64


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C100 (round-8 addition): the exact covariance structure of the
    embedding space — the matrix every whitening / PCA / drift monitor
    consumes. Components are fixed-point quantized (q = floor(v*1000),
    a deterministic IEEE op both engines evaluate identically — never
    round(), the one op they disagree on) so all downstream sums are
    INTEGER-exact and the oracle hashes bit-for-bit: per dim pair
    (i <= j) the row carries n, sum_ij, and the integer covariance
    numerator n*sum_ij - sum_i*sum_j (= n^2 * covariance, exact).

    Plan — partial Gram matrices, never a pairwise explode: each Arrow
    batch computes its d x d int64 Gram (one numpy matmul), column
    sums and count, and emits d(d+1)/2 = {n_out} rows; the ONLY
    shuffle aggregates those tiny partials by (i, j) — map-side
    combine of a matrix, the classic one-pass distributed covariance.
    At 100 TB the shuffle stays d(d+1)/2 rows x tasks regardless of
    corpus size. The d^2-explode the oracle uses (unnest x unnest) is
    the sequential truth, not the plan.
    """.format(n_out=_COV_DIM * (_COV_DIM + 1) // 2)
    import numpy as np
    import pandas as pd

    iu = np.triu_indices(_COV_DIM)
    schema = (
        "i int, j int, n long, sum_ij long, sum_i long, sum_j long"
    )

    def partial_gram(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy())
            Q = np.floor(X.astype(np.float64) * _COV_SCALE).astype(np.int64)
            G = Q.T @ Q  # exact int64: |q| <= ~1e3, n_batch <= ~1e4
            s = Q.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": iu[0] + 1,
                    "j": iu[1] + 1,
                    "n": np.int64(len(Q)),
                    "sum_ij": G[iu],
                    "sum_i": s[iu[0]],
                    "sum_j": s[iu[1]],
                }
            )

    vecs = load_table(spark, sf_dir, "embeddings").select("embedding")
    partials = vecs.mapInPandas(partial_gram, schema=schema)
    return (
        partials.groupBy("i", "j")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_ij").alias("sum_ij"),
            F.sum("sum_i").alias("sum_i"),
            F.sum("sum_j").alias("sum_j"),
        )
        .select(
            "i",
            "j",
            "n",
            "sum_ij",
            (F.col("n") * F.col("sum_ij") - F.col("sum_i") * F.col("sum_j"))
            .alias("cov_num"),
        )
        .orderBy("i", "j")
    )


EMBEDDING_COVARIANCE_SQL = f"""
WITH q AS (
  SELECT list_transform(embedding,
                        v -> CAST(floor(v * {_COV_SCALE}) AS BIGINT)) AS q
  FROM embeddings
),
pairs AS (
  SELECT i, j,
         SUM(q[i] * q[j]) AS sum_ij,
         SUM(q[i]) AS sum_i,
         SUM(q[j]) AS sum_j,
         COUNT(*) AS n
  FROM q, range(1, {_COV_DIM + 1}) t1(i), range(1, {_COV_DIM + 1}) t2(j)
  WHERE j >= i
  GROUP BY i, j
)
SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       CAST(n AS BIGINT) AS n,
       CAST(sum_ij AS BIGINT) AS sum_ij,
       CAST(n * sum_ij - sum_i * sum_j AS BIGINT) AS cov_num
FROM pairs
ORDER BY i, j
"""


_HUB_MAX_POP = 1024  # deterministic sample bound: stride = ceil(n / this)
# (1024 keeps the exact all-pairs verify under ~1M fold-dot pairs — the
# sf0.1 bench read 30 s at 4096; the histogram is statistically
# indistinguishable at this sample size for a distributional diagnostic)


def _pop_topk_edges(spark: SparkSession, pop: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-``k`` edge list over the stride-bounded
    population shared by C116/C130 — the |pop|² scoring vectorized
    through ``mapInPandas`` instead of |pop|² interpreted HOF fold-dots
    (guide §4.2: hand whole batches to numpy; measured 11.8 s → <1 s on
    the sf0.1 bench at |pop|=1000).

    Bit-identity with the former ``_dot``-fold plan (and the DuckDB
    oracle's explicit left-assoc chain) is preserved EXACTLY, not
    approximately: the accumulation loops dimension-by-dimension
    (``acc = acc + q_d * v_d`` per IEEE-754 double op, vectorized
    ACROSS pairs, sequential WITHIN a pair — the same left-assoc order
    as the fold), and norms are not recomputed — the JVM-fold ``norm``
    column rides along.  Ranking ties break (cos DESC, vec_id ASC) via
    lexsort, the same unique total order as the former window.

    Scale shape: pop is capped at ~``_HUB_MAX_POP`` rows by the stride
    contract, so the collected side matrix is ≤ ~0.5 MB forever (the
    C5 codebook idiom with a far smaller bound than C5's 200k-row
    cap); each task scores its own query rows against it, so the
    quadratic distributes and no 1M-row exchange or rank window exists
    at all.  The matrix rides in the pickled task closure BY VALUE
    (not a sc.broadcast): identical inputs then pickle to identical
    function bytes, so repeated invocations `sameResult` each other
    and the C116/C130 pair shares ONE `_swap_persist` edge list per
    session instead of re-scoring per caller.
    """
    import numpy as np
    import pandas as pd

    side = pop.select("vec_id", "embedding", "norm").toPandas()
    ids_all = side["vec_id"].to_numpy()
    m_all = np.stack(side["embedding"].to_numpy()).astype(np.float64)
    norms_all = side["norm"].to_numpy()

    def score(batches, ids=ids_all, m=m_all, norms=norms_all):
        cols = [m[:, d] for d in range(DIM)]
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            qids = pdf["vec_id"].to_numpy()
            qnorms = pdf["norm"].to_numpy()
            acc = np.zeros((len(q), len(ids)))
            for d in range(DIM):  # left-assoc per pair, exactly _dot's order
                acc = acc + q[:, d][:, None] * cols[d][None, :]
            cos = acc / (qnorms[:, None] * norms[None, :])
            cos[qids[:, None] == ids[None, :]] = -np.inf  # self-exclusion
            out_q, out_n, out_r = [], [], []
            for i in range(len(q)):
                order = np.lexsort((ids, -cos[i]))
                # drop the self row explicitly (it also sorts last via
                # -inf, but pop smaller than k+1 must not emit it)
                order = order[ids[order] != qids[i]][:k]
                out_q.append(np.full(len(order), qids[i]))
                out_n.append(ids[order])
                out_r.append(np.arange(1, len(order) + 1))
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "rank": np.concatenate(out_r).astype(np.int32),
                }
            )

    from .dedup import _swap_persist

    edges = pop.select("vec_id", "embedding", "norm").mapInPandas(
        score, schema="query_id bigint, neighbor_id bigint, rank int"
    )
    # one cached edge list per session, shared by C116 and C130 (the
    # deterministic closure makes repeat plans sameResult-identical)
    return _swap_persist("pop_topk_edges", edges)


def embedding_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C116 (round-8 addition): hubness diagnostic of the embedding
    space — the known high-dimensional pathology (Radovanovic et al.,
    JMLR'10) every ANN index inherits: a few "hub" points appear in a
    disproportionate share of OTHER points' k-NN lists while orphans
    appear in none, which skews retrieval, dedup thresholds (C5) and
    IVF cell balance (C33). Over the exact cosine top-{k} graph the
    audit emits the full in-degree histogram — degree, vector count,
    share bp, and the >= 2k hub flag — with 0-degree orphans included
    (a LEFT join from the population, not just observed degrees).

    Population bound (the quadratic stays bounded FOREVER): vectors
    with vec_id % S == 0 where S = (n + {m} - 1) div {m} ({m} caps the
    exact verify near 10^6 fold-dot pairs — measured 30 s at 4096 on
    the sf0.1 bench, ~2 s at 1024) — an integer
    stride both engines state, so the all-pairs graph never exceeds
    {m}^2 regardless of corpus size (hubness is a distributional
    diagnostic; a deterministic stride sample measures it as well as
    the full graph and is the honest alternative to letting brute
    force go quadratic — at gate scales S = 1 and the graph is the
    full corpus). Exact top-k at 100 TB serving scale is C33/C63's
    IVF path; this op is the EVALUATION instrument, like C36.

    Plan (round-10 optimization, guide §4.2): the |pop|² scoring runs
    as one numpy pass per task over the ≤1024-row broadcast population
    matrix inside ``_pop_topk_edges`` — bit-identical left-assoc
    accumulation, identical (cos DESC, vec_id ASC) ranking — replacing
    the former 1M-row broadcast-join + interpreted fold + rank window
    (sf0.1 bench 11.8 s → <1 s; plan diff: BroadcastNestedLoopJoin +
    Window exchange gone, one ArrowEvalPython over |pop| rows instead);
    in-degree by one rollup, histogram by a second; the population
    scalar S is a 1-row bounded collect (codebook idiom).
    """.format(k=TOPK, m=_HUB_MAX_POP)
    vecs = _with_norm(load_table(spark, sf_dir, "embeddings"))
    n = vecs.count()
    stride = (n + _HUB_MAX_POP - 1) // _HUB_MAX_POP
    pop = vecs.filter(F.col("vec_id") % stride == 0)
    n_pop = pop.count()
    edges = _pop_topk_edges(spark, pop, TOPK).select("neighbor_id")
    indeg = edges.groupBy("neighbor_id").agg(F.count("*").alias("in_degree"))
    per_vec = pop.select("vec_id").join(
        indeg, pop["vec_id"] == indeg["neighbor_id"], "left"
    ).select(F.coalesce("in_degree", F.lit(0)).alias("in_degree"))
    return (
        per_vec.groupBy("in_degree")
        .agg(F.count("*").alias("n_vectors"))
        .select(
            F.col("in_degree").cast("long").alias("in_degree"),
            "n_vectors",
            F.expr(f"n_vectors * 10000 div {n_pop}L").alias("share_bp"),
            (F.col("in_degree") >= 2 * TOPK).cast("int").alias("is_hub_degree"),
        )
        .orderBy("in_degree")
    )


EMBEDDING_HUBNESS_SQL = f"""
WITH allv AS (
  SELECT vec_id, embedding,
         sqrt({_dot_sql('embedding', 'embedding')}) AS norm
  FROM embeddings
),
nn AS (SELECT COUNT(*) AS n FROM allv),
pop AS (
  -- parens are load-bearing: % and // are same-precedence left-assoc,
  -- so "vec_id % (n+k) // m" parses as "(vec_id % (n+k)) // m" and
  -- silently selects the first 4096 ids instead of the stride sample
  -- (caught by the 10x gate, where stride first exceeds 1).
  SELECT * FROM allv
  WHERE vec_id % (((SELECT n FROM nn) + {_HUB_MAX_POP - 1})
                  // {_HUB_MAX_POP}) = 0
),
scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         {_dot_sql('q.embedding', 'v.embedding')} / (q.norm * v.norm)
           AS cos_sim
  FROM pop v JOIN pop q ON v.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
),
indeg AS (
  SELECT p.vec_id,
         COUNT(r.neighbor_id) AS in_degree
  FROM pop p
  LEFT JOIN (SELECT neighbor_id FROM ranked WHERE rank <= {TOPK}) r
         ON r.neighbor_id = p.vec_id
  GROUP BY p.vec_id
)
SELECT CAST(in_degree AS BIGINT) AS in_degree,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(COUNT(*) * 10000 // (SELECT COUNT(*) FROM pop) AS BIGINT)
         AS share_bp,
       CAST(CASE WHEN in_degree >= {2 * TOPK} THEN 1 ELSE 0 END AS INT)
         AS is_hub_degree
FROM indeg
GROUP BY in_degree
ORDER BY in_degree
"""


# --- C123 (round 8): maximal-marginal-relevance diverse top-k ----------

_MMR_QUERIES = 4  # probe queries (vec_id < 4)
_MMR_POOL = 50  # relevance candidate pool per query
_MMR_K = 10  # diverse selections per query
# lambda = 0.7 stated as the integer pair (7, 3) over x10 scores


def _mmr_argmax(rem: str) -> str:
    """SQL fragment: the remaining candidate maximizing the x10 MMR
    score 7*rel - 3*ms, ties to the smaller vec_id — via array_sort on
    (negated score, id) structs, which both engines order
    lexicographically."""
    return (
        f"filter({rem}, r2 -> r2.id = array_sort(transform({rem},"
        " rr -> named_struct('negs', -(7*rr.rel - 3*rr.ms), 'id',"
        " rr.id)))[0].id)[0]"
    )


def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C123 (round-8 addition): maximal-marginal-relevance diverse
    top-k (Carbonell & Goldstein, SIGIR'98) — the selection rule RAG
    retrievers and diverse-sampling curation stages run after ANN:
    from each query's relevance pool, greedily take the candidate
    maximizing lambda*rel(d) - (1-lambda)*max_(s in S) sim(d, s), so
    the second pick is pushed AWAY from the first — plain top-k
    returns near-duplicates; MMR returns coverage.

    Exactness discipline: floats never enter a comparison. Components
    are fixed-point quantized q = floor(v*1000) (the C100 idiom);
    relevance and pairwise similarity are EXACT int64 dot products of
    the quantized vectors (|q| <= ~1000, 64 dims -> |dot| <= 6.4e7);
    lambda = 0.7 becomes the integer score pair 7*rel - 3*ms at x10
    scale; ties break to the smaller vec_id. The greedy is therefore
    bit-identical in any engine that states the same recurrence —
    Spark folds sequence(1, K) with ONE `aggregate` lambda whose
    accumulator carries (remaining-with-maxsim, selected), DuckDB
    walks the identical recurrence as a RECURSIVE CTE with list
    lambdas (argmax stated as the same (neg-score, id) list_sort).

    Plan: quantize map-side; relevance = one corpus scan against the
    broadcast |queries|-row probe set (the C6 shape, whitelisted
    BNLJ); ONE per-query sort window caps the pool at {pool}; the
    greedy folds a {pool}-struct array per query — O(K * pool * dim)
    integer ops on a |queries|-row relation, nothing
    corpus-proportional after the scan. At 100 TB the scan dominates
    and shards; the fold is constant work per query.
    """.format(pool=_MMR_POOL)
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
        ).alias("q"),
    )
    queries = vecs.filter(F.col("vec_id") < _MMR_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    rel = vecs.join(
        F.broadcast(queries), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        "q",
        F.expr(
            "aggregate(zip_with(qq, q, (a, b) -> a * b), 0L,"
            " (s, x) -> s + x)"
        ).alias("rel"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("vec_id"))
    pool = (
        rel.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MMR_POOL)
        .groupBy("query_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("vec_id").alias("id"),
                        F.col("q").alias("q"),
                        F.col("rel").alias("rel"),
                        F.lit(0).cast("long").alias("ms"),
                    )
                )
            ).alias("rem")
        )
    )
    # let-binding emulation: evaluate the argmax ONCE per step by
    # mapping over a 1-element array — the inlined form re-evaluated
    # the argmax per output field AND per remaining element (measured
    # 21 s -> 1.4 s at sf0.1, identical output)
    best = _mmr_argmax("acc.rem")
    fold = f"""
    aggregate(
      sequence(1, {_MMR_K}),
      named_struct('rem', rem,
        'sel', CAST(array() AS ARRAY<STRUCT<step INT, id BIGINT,
                    rel BIGINT, ms BIGINT, score BIGINT>>)),
      (acc, step) -> if(size(acc.rem) = 0, acc,
        transform(array({best}), b ->
          named_struct(
            'rem', transform(filter(acc.rem, r -> r.id != b.id),
               r -> named_struct('id', r.id, 'q', r.q, 'rel', r.rel,
                   'ms', greatest(r.ms, aggregate(
                      zip_with(r.q, b.q, (a, x) -> a * x), 0L,
                      (s, x) -> s + x)))),
            'sel', array_append(acc.sel, named_struct(
              'step', step, 'id', b.id, 'rel', b.rel, 'ms', b.ms,
              'score', 7 * b.rel - 3 * b.ms))))[0]),
      acc -> acc.sel) AS sel
    """
    return (
        pool.select("query_id", F.expr(fold))
        .select("query_id", F.explode("sel").alias("s"))
        .select(
            "query_id",
            F.col("s.step").cast("long").alias("rank"),
            F.col("s.id").alias("vec_id"),
            F.col("s.rel").alias("rel"),
            F.col("s.ms").alias("max_sim"),
            F.col("s.score").alias("mmr_score_x10"),
        )
        .orderBy("query_id", "rank")
    )


MMR_DIVERSE_SQL = f"""
WITH RECURSIVE qv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM embeddings
),
queries AS (SELECT vec_id AS query_id, q AS qq FROM qv
            WHERE vec_id < {_MMR_QUERIES}),
rel AS (
  SELECT qs.query_id, v.vec_id, v.q,
         CAST(list_dot_product(qs.qq, v.q) AS BIGINT) AS rel
  FROM qv v JOIN queries qs ON v.vec_id <> qs.query_id
),
cand AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY rel DESC, vec_id) AS rn
    FROM rel) t WHERE rn <= {_MMR_POOL}
),
pool AS (
  SELECT query_id,
         list(struct_pack(id := vec_id, q := q, rel := rel,
                          ms := CAST(0 AS BIGINT)) ORDER BY vec_id) AS rem
  FROM cand GROUP BY query_id
),
greedy AS (
  SELECT query_id, 0 AS step, rem,
         CAST(NULL AS BIGINT) AS pick_id, CAST(NULL AS BIGINT) AS pick_rel,
         CAST(NULL AS BIGINT) AS pick_ms, CAST(NULL AS BIGINT) AS pick_score
  FROM pool
  UNION ALL
  SELECT g.query_id, g.step + 1,
         list_transform(
           list_filter(g.rem, r -> r.id <> b.best.id),
           r -> struct_pack(id := r.id, q := r.q, rel := r.rel,
                  ms := greatest(r.ms,
                    CAST(list_dot_product(r.q, b.best.q) AS BIGINT)))),
         b.best.id, b.best.rel, b.best.ms, 7 * b.best.rel - 3 * b.best.ms
  FROM greedy g,
       LATERAL (
         SELECT list_filter(g.rem, r -> r.id =
                  list_sort(list_transform(g.rem,
                    rr -> struct_pack(negs := -(7*rr.rel - 3*rr.ms),
                                      id := rr.id)))[1].id)[1] AS best
       ) b
  WHERE g.step < {_MMR_K} AND len(g.rem) > 0
)
SELECT query_id,
       CAST(step AS BIGINT) AS rank,
       pick_id AS vec_id,
       pick_rel AS rel,
       pick_ms AS max_sim,
       pick_score AS mmr_score_x10
FROM greedy WHERE step > 0
ORDER BY query_id, rank
"""


_MUTUAL_KS = (1, 3, 5)  # k values audited (<= TOPK)


def knn_mutuality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C130 (round-9 addition): mutual-neighbor rate of the exact
    cosine k-NN graph — the retrieval-quality instrument C116
    (hubness) complements but doesn't give: for k in {ks}, what
    fraction of directed k-NN edges are RECIPROCATED (a is in b's
    top-k AND b in a's)? Low mutuality is the operational symptom of
    hubness — asymmetric neighborhoods break mutual-kNN clustering,
    kNN-graph dedup (C5's transitive closure quality), and
    reciprocal-rank assumptions in fusion (C101). Audited over the
    SAME stride-bounded population as C116 (vec_id % S == 0,
    S = ceil(n/{m})), so the exact quadratic stays capped at {m}^2
    forever; at serving scale the IVF path answers, this evaluates.

    Exactness: one exact top-{t} graph (fold-dot cosine,
    (cos DESC, vec_id) ranking — a unique total order), mutuality per
    k by an equi-self-join on the reversed edge with rank <= k on
    both sides; counts exact integers, rate floor-div basis points.

    Plan (round-10 optimization, guide §4.2): the ranked edge list is
    built ONCE by ``_pop_topk_edges`` — the C116 numpy pass, bit-
    identical to the former fold+window plan; each k is a filter + one
    co-partitioned self-join on (src, dst) — edge-list-sized, never
    re-scoring. Output |ks| rows.
    """.format(ks=list(_MUTUAL_KS), m=_HUB_MAX_POP, t=TOPK)
    vecs = _with_norm(load_table(spark, sf_dir, "embeddings"))
    n = vecs.count()
    stride = (n + _HUB_MAX_POP - 1) // _HUB_MAX_POP
    pop = vecs.filter(F.col("vec_id") % stride == 0)
    edges = _pop_topk_edges(spark, pop, TOPK).select(
        F.col("query_id").alias("src"),
        F.col("neighbor_id").alias("dst"),
        "rank",
    )
    # the ADVICE-r9 named swap slot lives INSIDE _pop_topk_edges now
    # ("pop_topk_edges"), shared with embedding_hubness — still exactly
    # one cached edge list alive per session
    out = None
    for k in _MUTUAL_KS:
        ek = edges.filter(F.col("rank") <= k).select("src", "dst")
        rev = ek.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        mutual = ek.join(rev, ["src", "dst"], "left_semi")
        row = ek.agg(F.count("*").alias("n_edges")).crossJoin(
            mutual.agg(F.count("*").alias("n_mutual"))
        ).select(
            F.lit(k).alias("k"),
            "n_edges",
            "n_mutual",
            F.expr("n_mutual * 10000 div n_edges").alias("mutual_bp"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("k")


def _mutuality_sql() -> str:
    per_k = []
    for k in _MUTUAL_KS:
        per_k.append(f"""
  SELECT {k} AS k,
         CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_mutual,
         CAST(SUM(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END) * 10000
              // COUNT(*) AS BIGINT) AS mutual_bp
  FROM (SELECT src, dst FROM edges WHERE rank <= {k}) e
  LEFT JOIN (SELECT src, dst FROM edges WHERE rank <= {k}) r
    ON r.src = e.dst AND r.dst = e.src""")
    un = "\n  UNION ALL".join(per_k)
    return f"""
WITH allv AS (
  SELECT vec_id, embedding,
         sqrt({_dot_sql('embedding', 'embedding')}) AS norm
  FROM embeddings
),
nn AS (SELECT COUNT(*) AS n FROM allv),
pop AS (
  SELECT * FROM allv
  WHERE vec_id % (((SELECT n FROM nn) + {_HUB_MAX_POP - 1})
                  // {_HUB_MAX_POP}) = 0
),
scored AS (
  SELECT q.vec_id AS src, v.vec_id AS dst,
         {_dot_sql('q.embedding', 'v.embedding')} / (q.norm * v.norm)
           AS cos_sim
  FROM pop v JOIN pop q ON v.vec_id <> q.vec_id
),
edges AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src
                            ORDER BY cos_sim DESC, dst ASC) AS rank
  FROM scored
  QUALIFY rank <= {TOPK}
)
SELECT * FROM ({un}
)
ORDER BY k
"""


KNN_MUTUALITY_SQL = _mutuality_sql()


_SD2_MIN_K = 2  # per-level fan-out floor (degenerate tiny corpora)


_SD2_MAX_K = 2000  # per-level fan-out ceiling: the broadcast L1/L2
# codebooks stay <= 2000 rows x 64 doubles ~ 1 MB at ANY corpus size
# (2000^3 = 8e9 docs before the cap binds; past that, fan-out freezes
# and leaves grow linearly — still never a growing broadcast).  The
# DuckDB oracle derives k from the same 2000-row integer spine, so the
# cap is engine-identical, and tests/test_plan_smells.py whitelists the
# L1 BroadcastNestedLoopJoin on exactly this bound.


def _icbrt(n: int) -> int:
    """Exact integer cube root (smallest k with k^3 >= n), capped at
    _SD2_MAX_K — float pow(n, 1/3) is NOT correctly rounded
    (libm-dependent, unlike sqrt), so both engines derive k by pure
    integer search: Spark on the driver here, DuckDB over the bounded
    integer spine (COALESCE to the cap when n exceeds its cube)."""
    k = 1
    while k * k * k < n and k < _SD2_MAX_K:
        k += 1
    return k


def semantic_dedup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C131 (round-9 addition): SemDeDup with a TWO-LEVEL quantizer —
    the stated scale path past C58's single-level N^1.5 design point
    (round-9 100x probe measured C58 at 54.6, exactly the predicted
    ~10x-beyond-linear of N^1.5; this is the FAISS IVF-in-IVF answer
    built as an oracle-gated operator, not a docstring promise).

    With per-level fan-out k = icbrt(N): L1 assignment costs N·k
    dots, L2 assignment N·k within L1 cells (an equi-join on the L1
    cell, never a global cross join), expected leaf size N/k² =
    N^(1/3), so within-leaf pairing is ~N·N^(1/3)/2 — total N^(4/3)
    vs the single level's N^1.5. The recall trade is the honest
    difference and is VISIBLE, not hidden: leaves are finer than
    C58's cells, so cross-leaf near-dups inside an L1 cell are out of
    scope by definition (SemDeDup's recall is a function of cell
    granularity; C58 at sqrt-cells and this at cbrt²-leaves bracket
    the curve, pytest pins dropped(two-level) <= dropped(C58) on the
    same corpus).

    Exactness: k is an exact INTEGER cube root in both engines
    (float pow(·,1/3) is libm-dependent — see _icbrt; DuckDB derives
    the same k from a 2000-row integer spine, whitelisted constant
    size). L1 seeds = vec_id < k (C58's convention), L2 seeds = the
    first k members of each L1 cell by vec_id (one row_number
    window); both argmins break ties (cos DESC, seed ASC); cosine is
    the shared left-assoc fold, bit-identical across engines.

    Output: per (cell_l1, cell_l2) leaf — corpus size, dropped
    near-dups (keep-lowest-id, C58's policy), survivors.
    """
    vecs = _with_norm(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    n = vecs.count()
    k = max(_SD2_MIN_K, _icbrt(n))
    s1 = vecs.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("seed_id"),
        F.col("embedding").alias("se"),
        F.col("norm").alias("sn"),
    )
    a1 = (
        vecs.crossJoin(F.broadcast(s1))
        .select(
            "vec_id",
            "embedding",
            "norm",
            "seed_id",
            (_dot("embedding", "se") / (F.col("norm") * F.col("sn"))).alias(
                "cos_seed"
            ),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.desc("cos_seed"), F.asc("seed_id")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("seed_id").alias("c1"), "embedding", "norm")
    )
    from .dedup import _swap_persist

    a1 = _swap_persist("semdedup2_l1", a1)
    s2 = (
        a1.withColumn(
            "srn",
            F.row_number().over(
                Window.partitionBy("c1").orderBy("vec_id")
            ),
        )
        .filter(F.col("srn") <= k)
        .select(
            "c1",
            F.col("vec_id").alias("seed2_id"),
            F.col("embedding").alias("se2"),
            F.col("norm").alias("sn2"),
        )
    )
    a2 = (
        a1.join(s2, "c1")
        .select(
            "c1",
            "vec_id",
            "embedding",
            "norm",
            "seed2_id",
            (_dot("embedding", "se2") / (F.col("norm") * F.col("sn2"))).alias(
                "cos2"
            ),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.desc("cos2"), F.asc("seed2_id")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("c1", F.col("seed2_id").alias("c2"), "vec_id", "embedding", "norm")
    )
    leaves = _swap_persist("semdedup2_leaves", a2)
    pair_cos = _dot("a.embedding", "b.embedding") / (
        F.col("a.norm") * F.col("b.norm")
    )
    dropped = (
        leaves.alias("a")
        .join(
            leaves.alias("b"),
            (F.col("a.c1") == F.col("b.c1"))
            & (F.col("a.c2") == F.col("b.c2"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(pair_cos >= SEM_TAU)
        .select(
            F.col("b.c1").alias("c1"),
            F.col("b.c2").alias("c2"),
            F.col("b.vec_id").alias("vec_id"),
        )
        .distinct()
        .groupBy("c1", "c2")
        .agg(F.count("*").alias("n_dropped"))
    )
    base = leaves.groupBy("c1", "c2").agg(F.count("*").alias("n_vecs"))
    return (
        base.join(dropped, ["c1", "c2"], "left")
        .select(
            F.col("c1").alias("cell_l1"),
            F.col("c2").alias("cell_l2"),
            "n_vecs",
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            (F.col("n_vecs") - F.coalesce("n_dropped", F.lit(0))).alias(
                "n_kept"
            ),
        )
        .orderBy("cell_l1", "cell_l2")
    )


SEMANTIC_DEDUP_TWO_LEVEL_SQL = f"""
WITH v AS (
  SELECT vec_id, embedding, sqrt({_dot_sql('embedding', 'embedding')}) AS norm
  FROM embeddings
),
kk AS (
  SELECT GREATEST({_SD2_MIN_K},
                  COALESCE((SELECT MIN(i) FROM range(1, {_SD2_MAX_K + 1}) t(i)
                            WHERE i * i * i >= (SELECT COUNT(*) FROM v)),
                           {_SD2_MAX_K})) AS k
),
s1 AS (
  SELECT vec_id AS seed_id, embedding AS se, norm AS sn FROM v
  WHERE vec_id < (SELECT k FROM kk)
),
a1 AS (
  SELECT vec_id, seed_id AS c1, embedding, norm FROM (
    SELECT v.vec_id, v.embedding, v.norm, s1.seed_id,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_dot_sql('v.embedding', 's1.se')} / (v.norm * s1.sn)
                        DESC,
                      s1.seed_id ASC) AS rn
    FROM v, s1
  ) WHERE rn = 1
),
s2 AS (
  SELECT c1, vec_id AS seed2_id, embedding AS se2, norm AS sn2 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY c1 ORDER BY vec_id) AS srn
    FROM a1
  ) WHERE srn <= (SELECT k FROM kk)
),
leaves AS (
  SELECT c1, seed2_id AS c2, vec_id, embedding, norm FROM (
    SELECT a1.c1, a1.vec_id, a1.embedding, a1.norm, s2.seed2_id,
           ROW_NUMBER() OVER (
             PARTITION BY a1.vec_id
             ORDER BY {_dot_sql('a1.embedding', 's2.se2')}
                        / (a1.norm * s2.sn2) DESC,
                      s2.seed2_id ASC) AS rn
    FROM a1 JOIN s2 ON s2.c1 = a1.c1
  ) WHERE rn = 1
),
dropped AS (
  SELECT c1, c2, COUNT(DISTINCT vec_id) AS n_dropped FROM (
    SELECT a.c1, a.c2, b.vec_id
    FROM leaves a JOIN leaves b
      ON a.c1 = b.c1 AND a.c2 = b.c2 AND a.vec_id < b.vec_id
    WHERE {_dot_sql('a.embedding', 'b.embedding')} / (a.norm * b.norm)
            >= {SEM_TAU}
  ) GROUP BY c1, c2
),
base AS (SELECT c1, c2, COUNT(*) AS n_vecs FROM leaves GROUP BY c1, c2)
SELECT base.c1 AS cell_l1, base.c2 AS cell_l2, n_vecs,
       COALESCE(n_dropped, 0) AS n_dropped,
       n_vecs - COALESCE(n_dropped, 0) AS n_kept
FROM base LEFT JOIN dropped USING (c1, c2)
ORDER BY cell_l1, cell_l2
"""
