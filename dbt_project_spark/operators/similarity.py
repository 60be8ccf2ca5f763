"""Similarity search over embedding columns.

Two paths, the standard scale trade-off:
- ``bruteforce_topk``: exact cosine top-k. The fan-out is a broadcast
  of the (small) query set against the candidate corpus — at 100 TB
  the corpus side streams through executors once, never shuffles, and
  top-k per query is a windowed rank over query-partitioned rows
  (bounded by |queries| × |corpus-partition| intermediate rows).
- ``hyperplane_lsh_topk``: random-hyperplane (SimHash-for-vectors)
  bucketing; only same-bucket candidates are scored. Recall < 1 by
  construction, cost drops by ~2^nbits. The hyperplane matrix is a
  deterministic literal (LCG-generated), so the exact same algorithm
  is reproducible in ANSI SQL for the oracle.

Vector math is JVM-side ``zip_with``/``aggregate`` (functions/
expressions.py) — no Python round-trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbt_project_spark.functions.expressions import cosine_similarity, dot_product

LSH_NBITS = 8
LSH_DIM = 64


def _lcg_weights(nbits: int = LSH_NBITS, dim: int = LSH_DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1): a plain LCG
    (numerical-recipes constants) so the literal matrix is identical
    in the Spark plan and the oracle SQL."""
    state = 42
    out = []
    for _ in range(nbits):
        row = []
        for _ in range(dim):
            state = (1664525 * state + 1013904223) % (2**32)
            row.append(round(state / 2**31 - 1.0, 6))
        out.append(row)
    return out


LSH_W = _lcg_weights()


# r13 (VERDICT r12 task 6): margin proof for the bruteforce shortlist.
# exact = round(cos, 6) on a left-to-right double fold; approx = one
# float64 matmul on normalized rows, |approx − exact| ≤ δ with
# δ ≈ dim·2⁻⁵² ≪ 1e-8. If ≥ k+1 batch rows have approx > approx_r +
# (2e-6 + 2δ), their exact cosines exceed exact_r + 2e-6, so their
# ROUNDED cosines strictly exceed round(exact_r) on the 1e-6 grid —
# at most one of them is the self row, leaving ≥ k non-self rows that
# beat r regardless of id tie-breaks: r cannot be in the top-k.
_TOPK_SLACK = 2e-6 + 1e-8
_BF_MAX_QUERIES = 65536


def _bruteforce_topk_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str,
    corpus_id: str,
    qvec: str,
    cvec: str,
) -> DataFrame:
    """Pre-r13 path: broadcast crossJoin scoring every (query, corpus)
    pair with the interpreted SQL fold. Kept as the exact-semantics
    fallback for degenerate query sets (null/ragged/non-finite/
    zero-norm query vectors, mixed dims, or > _BF_MAX_QUERIES rows)."""
    sims = (
        queries.crossJoin(corpus)
        .filter(F.col(query_id) != F.col(corpus_id))
        .withColumn("cosine", F.round(cosine_similarity(qvec, cvec), 6))
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(corpus_id))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def ann_queries(e: DataFrame, n: int) -> DataFrame:
    """(query_id, qe): the query set of an ANN search over ``e``
    (vec_id, embedding) — the vectors with vec_id < n."""
    return e.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )


def ann_corpus(e: DataFrame) -> DataFrame:
    """(neighbor_id, embedding): the corpus side of an ANN search."""
    return e.select(F.col("vec_id").alias("neighbor_id"), "embedding")


def recall_at_k(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """(query_id, k, n_matched, recall): per query of ``exact``, how
    many of its (query_id, neighbor_id) rows ``approx`` also holds, and
    that count over k rounded to 6 places. ``exact`` is the true top-k,
    ``approx`` the index's; a query missing from ``approx`` matches 0."""
    hits = approx.select(
        F.col("query_id").alias("_aq"), F.col("neighbor_id").alias("_an")
    )
    m = (
        exact.select("query_id", "neighbor_id")
        .join(
            hits,
            (F.col("_aq") == F.col("query_id"))
            & (F.col("_an") == F.col("neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("_an").cast("bigint").alias("n_matched"))
    )
    return m.select(
        "query_id",
        F.lit(k).cast("bigint").alias("k"),
        "n_matched",
        F.round(F.col("n_matched") * 1.0 / k, 6).alias("recall"),
    )


def bruteforce_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    qvec: str = "qe",
    cvec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus.

    r13 (VERDICT r12 task 6 — the builder's own lead): the nq×n
    interpreted-HOF scoring pass is replaced by the repo's two-stage
    exact-kernel contract (same shape as the IVF assign): an Arrow
    numpy kernel streams the corpus once (map-only, zero shuffle of
    vectors) and emits, per query, every batch row whose float64
    cosine is within ``_TOPK_SLACK`` of the batch's (k+1)-th best — a
    provable superset of the exact rounded-cosine top-k (margin proof
    above) — and the EXACT SQL expression re-scores only that
    shortlist (nq × k × n_batches rows), so the output is
    bit-identical to scoring all nq×n pairs. Degenerate corpus rows
    (null / ragged / non-finite / zero-norm) are always shortlisted
    and ranked by the exact expression (NaN sorts first under desc,
    null last — the kernel never decides their fate); degenerate
    QUERY vectors route the whole call to the crossJoin fallback.

    Precondition (assign_clusters' ADVICE-r11 convention): query ids
    are unique — every repo caller filters a unique vec_id."""
    import math

    import numpy as np

    from dbt_project_spark.caching import bounded_collect

    spark = queries.sparkSession
    # [] when empty or past the bound: both take the crossJoin path
    qrows = bounded_collect(queries.select(query_id, qvec), _BF_MAX_QUERIES)
    qrows = qrows or []

    def _qok(r):
        v = r[1]
        return (
            v is not None
            and all(x is not None for x in v)
            and all(math.isfinite(float(x)) for x in v)
        )

    dims = {len(r[1]) for r in qrows if r[1] is not None}
    if not qrows or not all(_qok(r) for r in qrows) or len(dims) != 1:
        return _bruteforce_topk_join(
            queries, corpus, k, query_id, corpus_id, qvec, cvec
        )
    dim = dims.pop()
    seen = set()
    uq = [r for r in qrows if not (r[0] in seen or seen.add(r[0]))]
    qid_np = [r[0] for r in uq]
    qmat = np.asarray([list(r[1]) for r in uq], dtype=np.float64)
    qn = np.sqrt((qmat * qmat).sum(axis=1))
    if (qn == 0.0).any():
        return _bruteforce_topk_join(
            queries, corpus, k, query_id, corpus_id, qvec, cvec
        )
    bc = spark.sparkContext.broadcast((qid_np, qmat / qn[:, None], dim, k))

    qid_type = queries.schema[query_id].dataType.simpleString()
    cid_type = corpus.schema[corpus_id].dataType.simpleString()
    emb_type = corpus.schema[cvec].dataType.simpleString()
    out_schema = (
        f"{query_id} {qid_type}, {corpus_id} {cid_type}, {cvec} {emb_type}"
    )

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        qids, Qn, dim, k = bc.value
        nq = len(qids)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            cid = batch.column(0)
            emb = batch.column(1)
            offs = emb.offsets.to_numpy(zero_copy_only=False)
            offs = (offs - offs[0]).astype(np.int64)
            lens = offs[1:] - offs[:-1]
            flat = emb.flatten()
            vals = flat.to_numpy(zero_copy_only=False).astype(
                np.float64, copy=False
            )
            ok = lens == dim
            if emb.null_count:
                ok &= ~np.asarray(emb.is_null())
            valid = np.nonzero(ok)[0]
            if valid.size:
                gather = offs[valid][:, None] + np.arange(dim)[None, :]
                X = vals[gather]
                fin = np.isfinite(X).all(axis=1)
                xn = np.sqrt((X * X).sum(axis=1))
                good = fin & (xn > 0.0)
                valid = valid[good]
                X = X[good]
                xn = xn[good]
            # degenerate rows (ragged/null/non-finite/zero-norm): the
            # exact re-score decides their rank — always shortlist
            deg = np.setdiff1d(
                np.arange(n), valid, assume_unique=False
            )
            take_rows, take_qi = [], []
            if valid.size:
                S = Qn @ (X / xn[:, None]).T  # (nq, nvalid)
                nv = valid.size
                if nv > k + 1:
                    thr = (
                        np.partition(S, nv - (k + 1), axis=1)[:, nv - (k + 1)]
                        - _TOPK_SLACK
                    )
                else:
                    thr = np.full(nq, -np.inf)
                qi, ci = np.nonzero(S >= thr[:, None])
                take_rows.append(valid[ci])
                take_qi.append(qi)
            if deg.size:
                take_rows.append(np.tile(deg, nq))
                take_qi.append(np.repeat(np.arange(nq), deg.size))
            if not take_rows:
                continue
            rows = np.concatenate(take_rows)
            qsel = np.concatenate(take_qi)
            if rows.size == 0:
                continue
            take = pa.array(rows, type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([qids[i] for i in qsel]),
                    cid.take(take),
                    emb.take(take),
                ],
                names=[query_id, corpus_id, cvec],
            )

    cand = corpus.select(corpus_id, cvec).mapInArrow(kernel, out_schema)
    scored = (
        cand.join(queries.select(query_id, qvec), on=query_id)
        .filter(F.col(query_id) != F.col(corpus_id))
        .withColumn("cosine", F.round(cosine_similarity(qvec, cvec), 6))
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def with_lsh_bucket(df: DataFrame, vec: str = "embedding") -> DataFrame:
    """Assign each vector its hyperplane-sign bucket (int in [0, 2^nbits))."""
    bucket = F.lit(0)
    for j, row in enumerate(LSH_W):
        w = F.array(*[F.lit(x) for x in row])
        bucket = bucket + F.when(
            dot_product(F.col(vec), w) >= 0, F.lit(2**j)
        ).otherwise(F.lit(0))
    return df.withColumn("bucket", bucket.cast("int"))


def lsh_table_weights(ntables: int, nbits: int) -> list[list[list[float]]]:
    """Deterministic hyperplanes for banded LSH: ``ntables`` tables of
    ``nbits`` hyperplanes each, ``LSH_DIM`` wide (same LCG stream as
    ``LSH_W``, so the literal matrix is reproducible in the oracle
    SQL)."""
    flat = _lcg_weights(ntables * nbits, LSH_DIM)
    return [flat[t * nbits : (t + 1) * nbits] for t in range(ntables)]


def with_lsh_bands(
    df: DataFrame,
    vec: str,
    weights: list[list[list[float]]],
    id_col: str,
    id_out: str = "doc",
) -> DataFrame:
    """Explode each vector to (id, tid, bv): one sign-bucket per table.

    Output is ids+ints only — vectors are NOT carried through the
    band shuffle (candidates join back to the corpus by id), so the
    band-join stage shuffles O(rows × ntables × 12 bytes) regardless
    of vector dimension.

    r12 (guide §4.2): the ntables×nbits hyperplane dot products per
    vector ran as interpreted ``zip_with``/``aggregate`` HOF chains —
    the measured ~100×-off-BLAS constant the r11 IVF kernel removed
    from the coarse build; at (16, 11) that was 176 interpreted
    64-element folds per vector and the dominant cost of
    dedup_embedding_strict. They now run as ONE Arrow-batched numpy
    matmul, bit-identical by the prune/recompute argument:

    - the sign test ``dot >= 0`` only differs from the SQL fold when
      |dot| is inside the float64 summation-order error band
      (≤ dim·eps·Σ|x·w| ≈ 1e-13·max|x| at dim 64, |w| < 1) — every
      dot within ``1e-9·max(1, max|x|)`` of zero (4 orders of slack)
      is recomputed with the EXACT left-to-right double fold;
    - Spark's NaN semantics (NaN >= 0 is TRUE) are replayed
      explicitly; null/ragged/null-element vectors (null dot →
      ``otherwise(0)`` bit) route to a python replay of the exact
      when/otherwise chain."""
    import numpy as np

    spark = df.sparkSession
    ntables = len(weights)
    nbits = len(weights[0]) if weights else 0
    dim = len(weights[0][0]) if nbits else 0
    wflat = np.asarray(
        [row for rows in weights for row in rows], dtype=np.float64
    )  # (ntables·nbits, dim)
    bc = spark.sparkContext.broadcast(
        (wflat, [[list(r) for r in rows] for rows in weights])
    )
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_out} {id_type}, tid int, bv int"

    def kernel(batches):
        import math

        import numpy as np
        import pyarrow as pa

        wf, wpy = bc.value
        nb, dim = (wf.shape[0] // max(len(wpy), 1), wf.shape[1])
        T = len(wpy)
        pow2 = (1 << np.arange(nb)).astype(np.int64)

        def slow_bv(v, rows):
            # exact replay of the when(dot >= 0, 2^j).otherwise(0) sum
            bv = 0
            for j, wrow in enumerate(rows):
                if (
                    v is None
                    or len(v) != len(wrow)
                    or any(x is None for x in v)
                ):
                    continue  # null dot → otherwise(0)
                s = 0.0
                for x, wv in zip(v, wrow):
                    s += float(x) * wv
                if s >= 0 or math.isnan(s):  # Spark: NaN >= 0 is TRUE
                    bv += 1 << j
            return bv

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0)
            ec = batch.column(1)
            flat = ec.flatten()
            offs = ec.offsets.to_numpy(zero_copy_only=False)
            lens = offs[1:] - offs[:-1]
            uniform = (
                ec.null_count == 0
                and flat.null_count == 0
                and bool((lens == dim).all())
            )
            if not uniform:
                pyv = ec.to_pylist()
                for t in range(T):
                    bvs = [slow_bv(v, wpy[t]) for v in pyv]
                    yield pa.RecordBatch.from_arrays(
                        [
                            ids,
                            pa.array([t] * n, type=pa.int32()),
                            pa.array(bvs, type=pa.int32()),
                        ],
                        names=[id_out, "tid", "bv"],
                    )
                continue
            x = (
                flat.to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(n, dim)
            )
            dots = x @ wf.T  # (n, T·nb)
            mx = float(np.abs(x).max()) if x.size else 0.0
            margin = 1e-9 * max(1.0, mx)
            sliver = np.abs(dots) < margin  # NaN compares False — kept
            for i, jw in zip(*np.nonzero(sliver)):
                p = x[i] * wf[jw]
                s = 0.0
                for val in p:  # the exact SQL fold, left to right
                    s += float(val)
                dots[i, jw] = s
            bits = (dots >= 0) | np.isnan(dots)  # Spark: NaN >= 0 TRUE
            bv = (
                bits.reshape(n, T, nb).astype(np.int64) * pow2[None, None, :]
            ).sum(axis=2)
            for t in range(T):
                yield pa.RecordBatch.from_arrays(
                    [
                        ids,
                        pa.array([t] * n, type=pa.int32()),
                        pa.array(bv[:, t].astype(np.int32), type=pa.int32()),
                    ],
                    names=[id_out, "tid", "bv"],
                )

    return df.select(F.col(id_col).alias(id_out), F.col(vec)).mapInArrow(
        kernel, out_schema
    )


# Prune slack for thresholded exact-cosine verification: a pair passes
# the SQL filter iff ROUND(cos, 6) >= τ, i.e. cos >= τ − 0.5e-6 (HALF_UP
# boundary), and the numpy cosine differs from the SQL left-to-right
# fold by ≤ ~dim²·eps ≈ 1e-12 (cosine is scale-invariant; Σ|x·y| ≤
# ‖x‖‖y‖) — 1e-6 + 1e-9 gives the rounding unit plus 3 orders of slack.
_COS_PRUNE_SLACK = 1e-6 + 1e-9


def prune_pairs_below_cosine(
    pairs: DataFrame, ea: str, eb: str, threshold: float
) -> DataFrame:
    """Drop candidate pairs whose exact ROUNDED cosine provably falls
    below ``threshold`` — a prune-only Arrow kernel (guide §4.2): the
    caller's exact SQL verify then runs over ~output-sized survivors
    instead of every candidate. Bit-identical output by construction:

    - a clean pair is dropped only when its float64 cosine is under
      ``threshold − _COS_PRUNE_SLACK`` (see the slack derivation);
    - non-finite cosines are NEVER pruned (Spark treats NaN as larger
      than any double, so a NaN cosine PASSES the SQL filter);
    - null / ragged / null-element pairs are dropped: their SQL cosine
      is NULL (zip_with null-pads; nulls propagate through the fold)
      and ``NULL >= τ`` filters them out anyway;
    - a batch that is not fully uniform is passed through unpruned
      except for those provably-null rows.

    All input columns pass through unchanged."""
    import numpy as np

    schema = pairs.schema
    names = [f.name for f in schema.fields]
    ia, ib = names.index(ea), names.index(eb)

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ca, cb = batch.column(ia), batch.column(ib)
            fa, fb = ca.flatten(), cb.flatten()
            offa = ca.offsets.to_numpy(zero_copy_only=False)
            offb = cb.offsets.to_numpy(zero_copy_only=False)
            la = offa[1:] - offa[:-1]
            lb = offb[1:] - offb[:-1]
            if ca.null_count or cb.null_count:
                nulls = (
                    np.asarray(
                        [v is None for v in ca.to_pylist()], dtype=bool
                    )
                    | np.asarray(
                        [v is None for v in cb.to_pylist()], dtype=bool
                    )
                )
            else:
                nulls = np.zeros(n, dtype=bool)
            clean_elems = fa.null_count == 0 and fb.null_count == 0
            same_len = (~nulls) & (la == lb)
            uniform = (
                clean_elems
                and not nulls.any()
                and bool((la == la[0]).all())
                and bool((lb == la[0]).all())
            )
            if uniform:
                d = int(la[0])
                xa = (
                    fa.to_numpy(zero_copy_only=False)
                    .astype(np.float64, copy=False)
                    .reshape(n, d)
                )
                xb = (
                    fb.to_numpy(zero_copy_only=False)
                    .astype(np.float64, copy=False)
                    .reshape(n, d)
                )
                dot = (xa * xb).sum(axis=1)
                den = np.sqrt((xa * xa).sum(axis=1)) * np.sqrt(
                    (xb * xb).sum(axis=1)
                )
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dot / den
                drop = np.isfinite(cos) & (
                    cos < threshold - _COS_PRUNE_SLACK
                )
                keep = ~drop
            else:
                # conservative: prune only provably-NULL-cosine rows —
                # null arrays and ragged pairs (zip_with null-pads →
                # null fold; SQL NULL >= τ filters them). Equal-length
                # rows with null ELEMENTS are kept; the exact stage
                # nulls them out identically.
                keep = same_len
            if keep.all():
                yield batch
            elif keep.any():
                yield batch.filter(pa.array(keep))

    return pairs.mapInArrow(kernel, schema)


def embedding_lsh_pairs(
    corpus: DataFrame,
    id_col: str,
    vec: str,
    threshold: float,
    ntables: int = 8,
    nbits: int = 3,
    prune: bool = True,
) -> DataFrame:
    """Near-dup vector pairs via banded hyperplane LSH + exact verify.

    Candidates = pairs sharing ANY table's sign-bucket; each candidate
    is then scored with exact cosine, so precision is 1.0 and only
    recall is approximate. Per-table detect probability for a pair at
    angle θ is (1-θ/π)^nbits; overall recall = 1-(1-p^nbits)^ntables.
    Candidate volume scales as ntables/2^nbits × all-pairs, so nbits
    is the scale dial: at a production near-dup threshold (cosine
    ≥0.9, p≈0.9) nbits=12-16 keeps recall >0.95 with a 2^12/ntables
    reduction; the catalog binding uses nbits=3 only because its test
    threshold (0.4, p≈0.65) is far below any real dedup bar.

    Blocking is bucket-local at any corpus size — never an O(n²)
    cross join (the r01 label-blocked version measured 8.5% recall
    and was quadratic within label blocks; reference parity per
    VERDICT.md round-1 E-family).

    Measured parameter curve at sf0.1 (2000 vecs, 920 true pairs at
    the 0.4 test threshold): (8,3)→65% of all-pairs as candidates,
    recall 0.91; (12,4)→54%, 0.90; (18,5)→44%, 0.87; (28,6)→37%,
    0.86. A 0.4 threshold sits near the bulk of the similarity
    distribution, so candidate pruning is inherently weak — at a
    production threshold (0.9) the same construction prunes by
    ~ntables/2^nbits with recall held by the much higher per-bit
    agreement probability.

    Measured at 10× (r03): the candidate fractions above are the
    THEORETICAL random-collision floor 1-(1-2^-nbits)^ntables at both
    sf0.1 and sf1 (0.651 for (8,3) at n=2000 and n=20000; mean-
    centering before hashing changes nothing) — the synthetic
    embeddings are i.i.d.-random with no cluster structure, so a
    below-bulk threshold makes the OUTPUT itself Θ(n²) and no
    parameter choice can be sub-quadratic. With planted near-dups at
    τ=0.9, (16,11) measures recall 1.0 with the candidate rate at its
    0.8% floor (see queries_dedup.dedup_embedding_strict). At a fixed
    false-candidate budget, nbits is the log(n) dial: each extra bit
    halves the random collision rate, so nbits ≈ log2(n·ntables/
    budget_pairs_per_row) keeps candidates linear in n."""
    from dbt_project_spark.caching import persist_tracked
    from dbt_project_spark.functions.expressions import dot_product as _dot
    from dbt_project_spark.functions.expressions import l2_norm as _l2

    w = lsh_table_weights(ntables, nbits)
    # Persist the band projection: both self-join sides consume it and
    # Spark does not dedup the subtree — without it the ntables×nbits
    # hyperplane dot products are computed twice per vector. Tracked:
    # released when the next catalog query is built.
    bands = persist_tracked(with_lsh_bands(corpus, vec, w, id_col, id_out="doc"))
    a = bands.select(F.col("doc").alias("vec_a"), "tid", "bv")
    b = bands.select(F.col("doc").alias("vec_b"), "tid", "bv")
    cand = (
        a.join(b, on=["tid", "bv"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    # Norms are per-VECTOR (computed once, n times total), not per
    # candidate pair — the verify stage then does one zip_with dot and
    # one double division per pair. Same fp evaluation order as the
    # oracle's SQRT(SUM(x*x)) * SQRT(SUM(y*y)) (sequential sum, sqrt,
    # multiply), so 6-dp parity is preserved.
    ea = corpus.select(
        F.col(id_col).alias("vec_a"),
        F.col(vec).alias("__ea"),
        _l2(vec).alias("__na"),
    )
    eb = corpus.select(
        F.col(id_col).alias("vec_b"),
        F.col(vec).alias("__eb"),
        _l2(vec).alias("__nb"),
    )
    # r12: numpy prune between the candidate join and the exact SQL
    # verify (bit-identical by prune_pairs_below_cosine's contract) —
    # the interpreted per-pair fold then runs over ~output-sized
    # survivors instead of every candidate. ``prune`` is the caller's
    # boundary-cost dial: each candidate ships ~1 KB (both vectors)
    # across the Arrow boundary, so the prune pays at production
    # thresholds where survivors ≪ candidates (τ=0.9 strict: measured
    # 30.8 → 5.3 s at sf1) and LOSES at a below-bulk threshold whose
    # candidate set is ~65% of all pairs and largely survives anyway
    # (τ=0.4 binding: measured 114 → 240 s at sf1 — the transfer
    # exceeds the interpreted fold it replaces).
    pairs = cand.join(ea, on="vec_a").join(eb, on="vec_b")
    if prune:
        pairs = prune_pairs_below_cosine(pairs, "__ea", "__eb", threshold)
    return (
        pairs.withColumn(
            "cosine",
            F.round(
                _dot("__ea", "__eb") / (F.col("__na") * F.col("__nb")), 6
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


# Per-cell scratch bound for the SemDeDup pair kernel (r13, VERDICT
# r12 task 4): the cosine block a task holds at once is capped at
# ~64 MiB (the ivf.py ROW_BLOCK convention), so a skewed hot cell with
# n_g ≫ √(64 MiB / 8) members streams row blocks instead of
# materializing the dense n_g×n_g matrix (8 TB at n_g = 10⁶ — a task
# OOM at scale, guide §2.5/§5).
_CELL_PAIR_BLOCK_BYTES = 64 << 20


def cell_local_candidate_pairs(
    mem: DataFrame,
    threshold: float,
    cid: str = "cid",
    vid: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """(cid, vec_a, vec_b): within-cell candidate pairs whose exact
    ROUNDED cosine can reach ``threshold`` — SemDeDup's cluster-then-
    pairwise stage as a group-local Arrow kernel (guide §4.2).

    The old shape self-joined members on the cell id and scored every
    Θ(n²/K) pair with the interpreted SQL fold — or, kernel-pruned at
    the PAIR level, shipped both vectors per pair (~1 KB) across the
    Arrow boundary. Here each member crosses the boundary ONCE
    (applyInArrow per cell) and the pairwise scoring is one n_g×n_g
    numpy matmul per cell; only surviving id pairs return to the JVM,
    and the caller re-scores them with the exact SQL expression.

    Prune-only contract (bit-identical composition):
    - a clean pair is dropped only when its float64 cosine is under
      ``threshold − _COS_PRUNE_SLACK`` (same slack derivation as
      prune_pairs_below_cosine);
    - non-finite pair cosines (NaN / zero-norm) are never dropped;
    - every pair involving a degenerate member (null / ragged /
      null-element vector) is emitted for the exact stage to resolve;
    - null-cid members emit no pairs — exactly the old join-on-cid
      null-key semantics.

    Skew bound (r13): degenerate members are represented as NaN rows
    of one dense matrix (a NaN-valued cosine is never finite, so every
    pair touching one is kept — the exact conservative semantics the
    old two-branch code implemented), and the cosine matrix is
    computed in row blocks of ≤ ``_CELL_PAIR_BLOCK_BYTES`` scratch
    instead of one dense n_g×n_g allocation, so a hot cell cannot OOM
    its task. BLAS
    row-blocking can move a pair's float64 cosine by ~d·ε (≪ 1e-12);
    the prune slack (1e-6 + 1e-9) absorbs it — the exact SQL verify
    re-scores every survivor, so composition stays bit-identical.
    """
    import numpy as np

    cid_t = mem.schema[cid].dataType.simpleString()
    vid_t = mem.schema[vid].dataType.simpleString()
    out_schema = f"{cid} {cid_t}, vec_a {vid_t}, vec_b {vid_t}"
    thr = threshold - _COS_PRUNE_SLACK
    block_bytes = _CELL_PAIR_BLOCK_BYTES

    def per_cell(tbl):
        import numpy as np
        import pyarrow as pa

        n = tbl.num_rows
        empty = pa.table(
            {
                cid: pa.array([], tbl.column(cid).type),
                "vec_a": pa.array([], tbl.column(vid).type),
                "vec_b": pa.array([], tbl.column(vid).type),
            }
        )
        if n < 2:
            return empty
        cids = tbl.column(cid)
        if cids[0].as_py() is None:
            return empty  # join-on-cid semantics: null keys never match
        vids = np.asarray(tbl.column(vid).to_pylist(), dtype=np.int64)
        order = np.argsort(vids, kind="stable")
        vids = vids[order]
        ec = tbl.column(vec).combine_chunks().take(pa.array(order))
        flat = ec.flatten()
        offs = ec.offsets.to_numpy(zero_copy_only=False)
        lens = offs[1:] - offs[:-1]
        clean_all = (
            ec.null_count == 0
            and flat.null_count == 0
            and bool((lens == lens[0]).all())
        )
        if clean_all:
            d = int(lens[0])
            x = (
                flat.to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(n, d)
            )
        else:
            # degenerate cell: clean = same length as the first
            # (vid-sorted) member and no null elements; every other
            # row becomes a NaN row, whose cosines are never finite —
            # so every pair touching it survives for the exact stage.
            rows = ec.to_pylist()
            d = len(rows[0]) if rows[0] else 0
            x = np.full((n, d), np.nan, dtype=np.float64)
            for i, v in enumerate(rows):
                if (
                    v is not None
                    and len(v) == d
                    and all(e is not None for e in v)
                ):
                    x[i] = v
        nrm = np.sqrt((x * x).sum(axis=1))
        # Row-blocked upper-triangle prune: ≤ block_bytes of cosine
        # scratch per block regardless of cell size (hot-cell bound).
        rb = max(1, int(block_bytes // (8 * max(n, 1))))
        jidx = np.arange(n)
        a_parts: list = []
        b_parts: list = []
        with np.errstate(divide="ignore", invalid="ignore"):
            for s in range(0, n - 1, rb):
                e = min(s + rb, n)
                cb = (x[s:e] @ x.T) / np.outer(nrm[s:e], nrm)
                mask = jidx[None, :] > np.arange(s, e)[:, None]
                keep = mask & ~(np.isfinite(cb) & (cb < thr))
                ib, jb = np.nonzero(keep)
                a_parts.append(ib.astype(np.int64) + s)
                b_parts.append(jb.astype(np.int64))
        ai = (
            np.concatenate(a_parts)
            if a_parts
            else np.empty(0, dtype=np.int64)
        )
        bi = (
            np.concatenate(b_parts)
            if b_parts
            else np.empty(0, dtype=np.int64)
        )
        return pa.table(
            {
                cid: pa.array(
                    [cids[0].as_py()] * ai.size, tbl.column(cid).type
                ),
                "vec_a": pa.array(vids[ai], tbl.column(vid).type),
                "vec_b": pa.array(vids[bi], tbl.column(vid).type),
            }
        )

    return mem.select(cid, vid, vec).groupBy(cid).applyInArrow(
        per_cell, out_schema
    )


def hyperplane_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    qvec: str = "qe",
    cvec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only candidates in the query's bucket."""
    qb = with_lsh_bucket(queries, qvec)
    cb = with_lsh_bucket(corpus, cvec)
    sims = (
        qb.join(cb, on="bucket")
        .filter(F.col(query_id) != F.col(corpus_id))
        .withColumn("cosine", F.round(cosine_similarity(qvec, cvec), 6))
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(corpus_id))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )
