"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

All DataFrame-native (no Python UDFs): tokenization and shingling are
codegen'd array expressions; hashes are the cross-engine md5-prefix
integer (functions/expressions.py), so every step is reproducible in
ANSI SQL for the oracle.

Near-dup detection is filter-and-verify: a candidate generator, then
exact verification. Each step is one function that every query shares:

- ``shingle_overlap`` — all pairs sharing a shingle, with their
  intersection and set sizes (the exact n-gram join).
- ``band_pairs`` — distinct pairs sharing a (bid, bv) band bucket
  (MinHash and SimHash candidates).
- ``candidate_overlap`` — intersection and set sizes of given
  candidate pairs, joined on a shingle hash with exact collision
  routing (the verifier behind every MinHash query).
- ``minhash_clusters`` — MinHash pairs folded into connected
  components: (doc, cluster_id = min doc id of the component).

Scale notes (100 TB):
- exact dedup groups on the 128-bit content hash, not the text — the
  shuffle carries 16-byte keys, not documents.
- candidate generation is always bucket-local (shared shingle, shared
  LSH band, shared SimHash band): never an O(n²) cross join. Hot
  buckets (stop-shingles) are the skew risk; ``max_bucket`` caps them
  (standard practice: a shingle shared by >N docs is useless for
  dedup anyway and only inflates the join).
- MinHash signatures are fixed-width (K ints/doc), so the
  signature-stage shuffle is O(docs), independent of doc length.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_project_spark.caching import (
    RoundCache,
    local_checkpoint_tracked,
    persist_tracked,
)
from dbt_project_spark.functions.expressions import md5_int

# MinHash permutation constants: h_i(x) = (A[i]*x + B[i]) mod P.
# Shared with the oracle SQL — single source of truth.
MINHASH_P = 2147483647
MINHASH_A = [7, 13, 31, 43, 59, 87, 101, 127, 151, 163, 179, 199, 211, 229, 241, 263]
MINHASH_B = [3, 17, 29, 47, 61, 79, 103, 131, 149, 167, 181, 193, 223, 233, 251, 269]
MINHASH_BANDS = 4  # LSH bands of len(MINHASH_A) // MINHASH_BANDS rows each
SHINGLE_N = 3  # word n-gram order of every shingle set
SIMHASH_BITS = 32
# Hex chars of the md5 prefix that keys the verify join (60 bits);
# tests shrink it to force real collisions through the string branch.
VERIFY_HASH_NCHARS = 15


def tokens_col(text_col: str = "text"):
    """Lowercased alphanumeric tokens (regexp-extracted, order kept)."""
    return F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")


def shingles_col(tokens: str = "tokens", n: int = 3):
    """Distinct word n-grams of a token array column (codegen arrays).

    Built as chained ``zip_with`` over ``slice``s rather than
    ``transform(sequence(...), i -> tokens[i+j])``: higher-order
    function ARGUMENTS are evaluated once per row, while lambda-body
    references to an outer column get re-evaluated per element after
    Catalyst inlines the (possibly expensive) token expression into the
    lambda — with a regexp tokenizer that was an O(tokens²) blowup
    (measured ~9× on the sf0.1 dedup benchmark). ``concat``
    null-propagates over zip_with's padding, so trailing partial
    n-grams filter out.
    """
    expr = tokens
    for j in range(1, n):
        expr = (
            f"zip_with({expr}, "
            f"slice({tokens}, {j + 1}, greatest(size({tokens}) - {j}, 0)), "
            f"(a, b) -> concat(a, ' ', b))"
        )
    return F.expr(f"array_distinct(filter({expr}, x -> x IS NOT NULL))")


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content, keeping
    the smallest id. Groups on md5(text) so the shuffle key is 16
    bytes regardless of document size."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exploded_shingles(df: DataFrame, id_col: str) -> DataFrame:
    """(doc, set_size, shingle) — one row per distinct shingle per doc.
    Expects a ``__toks`` column (see ``_with_tokens``).

    Deliberately shuffle-free: the alternative (explode once, sz =
    count() over doc) inserts a full postings exchange on doc — at
    100 TB an extra full-data shuffle loses to linear map-side CPU.

    r13 (guide §1.2 per-task work; sf100 stage evidence — the fill
    stage was ~40% of dedup_minhash_lsh's executor time): the old
    select(sh) → withColumn(sz) → select(explode(sh)) shape let the
    optimizer inline the tokenize+shingle chain into BOTH the size()
    and the Generate expression (the docstring's measured ~3×
    re-evaluation). Building ONE struct(size(sh), sh) projection
    forces a single ProjectExec where codegen subexpression
    elimination computes the chain once; the Generate then explodes a
    plain struct field. Measured sf10 (500k docs): 6.4 → 2.9 s for
    the postings pass, identical rows."""
    sh = df.select(
        F.col(id_col).alias("doc"),
        F.struct(
            F.size(shingles_col("__toks", SHINGLE_N)).alias("sz"),
            shingles_col("__toks", SHINGLE_N).alias("sh"),
        ).alias("t"),
    )
    return sh.select(
        "doc", F.col("t.sz").alias("sz"), F.explode("t.sh").alias("sg")
    )


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Starved-scan parallelism floor (r13, guide §6/§2.5): parquet
    scan tasks are bounded by file/row-group count, so a small-SF
    corpus (documents.parquet is 1 file at sf0.1, 4 at sf1) runs the
    whole tokenize+shingle map work on 1-4 of the session's cores.
    When the planned scan has fewer partitions than the default
    parallelism, spread the (by premise small) input with one
    round-robin exchange so per-row CPU uses every core. At scale the
    branch never fires — split count >> cores — so no exchange is
    added where the docstring trade-off in ``exploded_shingles``
    (map-side CPU beats a full-data shuffle at 100 TB) applies.
    Deterministic under retries: the input is a parquet scan and
    ``spark.sql.execution.sortBeforeRepartition`` (default on) pins
    the row-to-partition assignment."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # exotic plan — leave the layout alone
        return df
    return df.repartition(target) if n < target else df


def _with_tokens(df: DataFrame, text_col: str) -> DataFrame:
    return spread_small_scan(df).withColumn("__toks", tokens_col(text_col))


def _postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Persisted ``exploded_shingles`` of a text corpus: every consumer
    reads it at least twice (pair join sides, signatures, verify), and
    Spark does not reuse a repeated subtree (measured 2× tokenization,
    ~2× wall-clock without the cache). Tracked: released when the next
    catalog query is built."""
    return persist_tracked(exploded_shingles(_with_tokens(df, text_col), id_col))


def _jaccard():
    """inter / |A∪B| by inclusion-exclusion over integer counts, so the
    ratio is bit-deterministic."""
    return F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter"))


def _overlap(rows: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter, sa, sb) from one row per shared shingle."""
    return rows.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("inter"),
        F.max("sz_a").alias("sa"),
        F.max("sz_b").alias("sb"),
    )


def shingle_overlap(postings: DataFrame, max_bucket: int | None) -> DataFrame:
    """(doc_a, doc_b, inter, sa, sb) for every doc pair (doc_a < doc_b)
    sharing at least one shingle: the shared-shingle self-join over
    ``exploded_shingles`` postings.

    A shingle held by ONE doc can produce no pair, and in real corpora
    singletons are the posting majority — they are dropped BEFORE the
    self-join so the pair exchange moves only pair-capable postings.
    The df counts ride ONE map-side-combined aggregate, which also
    applies the hot-shingle cap (df > ``max_bucket`` falls out of the
    keep range [2, max_bucket]); the keep set comes out partitioned by
    sg, and the semi-join re-partitions the postings by sg, which the
    self-join then reuses (no further exchange on the join inputs).
    ``sz`` (the full set size) is computed per row before any drop."""
    n = F.col("__n")
    keep = (
        postings.groupBy("sg")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter((n >= 2) if max_bucket is None else n.between(2, max_bucket))
        .select("sg")
    )
    ex = persist_tracked(postings.join(keep, on="sg", how="left_semi"))
    a = ex.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"), "sg")
    b = ex.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"), "sg")
    return _overlap(a.join(b, on="sg").filter(F.col("doc_a") < F.col("doc_b")))


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard via shared-shingle join."""
    return (
        shingle_overlap(_postings(df, id_col, text_col), max_bucket)
        .select("doc_a", "doc_b", _jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def editdistance_pairs(
    df: DataFrame,
    name_col: str,
    max_dist: int = 4,
    max_block: int | None = None,
) -> DataFrame:
    """Near-dup string pairs by bounded edit distance with
    (2-char-prefix, length-band) equi-blocking.

    Each name is emitted into length bands ⌊len/w⌋ and ⌊len/w⌋+1 with
    w = max_dist, so any pair within ``max_dist`` edits (hence
    |len_a−len_b| ≤ max_dist) meets on at least one (pfx, band) key —
    the banding itself loses zero recall.

    ``max_block`` caps hot blocks the same way ``jaccard_pairs`` caps
    hot shingles: block sizes are counted with a map-side-combined
    groupBy, the (tiny) hot-key list is broadcast, and members are
    anti-joined out before the self-join — pair generation is then
    O(max_block²) per block instead of O(block²). Recall trade
    (documented, mirrored in the oracle): a pair is lost only when
    EVERY (pfx, band) key it shares is hot — same-length pairs meet on
    two keys, so a single hot band does not lose them. Real name
    distributions are Zipfian ("ma…", "jo…" prefixes), which is
    exactly the regime the cap is for.
    """
    band = F.floor(F.length(name_col) / max_dist).cast("int")
    blocked = df.select(
        name_col,
        F.substring(name_col, 1, 2).alias("pfx"),
        F.explode(F.array(band, band + F.lit(1))).alias("band"),
    )
    if max_block is not None:
        hot = (
            blocked.groupBy("pfx", "band")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_block)
            .select("pfx", "band")
        )
        blocked = blocked.join(hot, on=["pfx", "band"], how="left_anti")
    a = blocked.select(F.col(name_col).alias("name_a"), "pfx", "band")
    b = blocked.select(F.col(name_col).alias("name_b"), "pfx", "band")
    return (
        a.join(b, on=["pfx", "band"])
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
        .withColumn("edit_distance", F.levenshtein("name_a", "name_b").cast("int"))
        .filter(F.col("edit_distance") <= max_dist)
        .select("name_a", "name_b", "edit_distance")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    postings: DataFrame | None = None,
) -> DataFrame:
    """K=len(A) minhash values per doc, as columns mh0..mh{K-1}.

    Signature stage is a single groupBy(doc) over exploded shingles
    with K min() aggregates — map-side partials make the shuffle
    O(docs × K). Pass ``postings`` (a possibly-persisted
    exploded_shingles result) to share the tokenization with other
    stages."""
    ex = (
        postings
        if postings is not None
        else exploded_shingles(_with_tokens(df, text_col), id_col)
    )
    h = ex.withColumn("h", md5_int("sg"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    return h.groupBy(F.col("doc")).agg(*aggs)


def minhash_band_stack(sig: DataFrame) -> DataFrame:
    """(doc, bid, bv): one row per (doc, band); bv = md5-int of the
    band's r consecutive signature values. The stacked layout is what
    both the self-join path and the persisted index store — band joins
    shuffle (id, 2 ints) rows regardless of document size."""
    r = len(MINHASH_A) // MINHASH_BANDS
    band_cols = []
    for bnd in range(MINHASH_BANDS):
        parts = [f"mh{bnd * r + j}" for j in range(r)]
        band_cols.append(
            md5_int(F.concat_ws(",", *[F.col(p).cast("string") for p in parts])).alias(
                f"band{bnd}"
            )
        )
    return _stack_bands(sig.select("doc", *band_cols), MINHASH_BANDS, ())


def _stack_bands(sig: DataFrame, nbands: int, carry: tuple) -> DataFrame:
    """(doc, *carry, bid, bv) from columns band0..band{nbands-1}."""
    return sig.select(
        "doc",
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bnd).alias("bid"), F.col(f"band{bnd}").alias("bv"))
                    for bnd in range(nbands)
                ]
            )
        ).alias("bx"),
    ).select("doc", *carry, "bx.bid", "bx.bv")


def band_pairs(stacked: DataFrame, carry: tuple = ()) -> DataFrame:
    """Distinct (doc_a, doc_b, c_a…, c_b…) pairs, doc_a < doc_b, that
    share a (bid, bv) band bucket of a (doc, *carry, bid, bv) stack:
    the banded-LSH candidate join, bucket-local (never all pairs).
    Each ``carry`` column c comes out as c_a and c_b."""

    def side(s: str) -> DataFrame:
        return stacked.select(
            F.col("doc").alias(f"doc_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
            "bid",
            "bv",
        )

    return (
        side("a")
        .join(side("b"), on=["bid", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", *[f"{c}_{s}" for s in "ab" for c in carry])
        .distinct()
    )


def minhash_candidates(
    df: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, signatures, candidate pairs) of banded MinHash-LSH.

    One persisted postings relation feeds the signature stage and the
    verify join; the signatures are persisted for callers that compare
    them per pair. The band self-join's two sides are materialized as
    CONCURRENT AQE stage-jobs, and a lazy persist cannot dedupe work
    still in flight — both sides computed the full
    postings→md5→16-min-agg signature pipeline (2 × ~600 s executor at
    sf100, 5M docs). One eager materialization of the persisted band
    stack runs tokenize→postings→signatures→bands exactly once,
    filling every cache; the join sides then read the stacked cache.
    The count itself aggregates during the fill pass — no extra corpus
    scan."""
    postings = _postings(df, id_col, text_col)
    sig = persist_tracked(minhash_signatures(df, id_col, text_col, postings))
    stacked = persist_tracked(minhash_band_stack(sig))
    stacked.count()
    return postings, sig, band_pairs(stacked)


def minhash_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float
) -> DataFrame:
    """Banded-LSH candidate pairs, verified with exact Jaccard.

    Docs sharing ANY band (band = md5 of r consecutive signature
    values) become candidates; candidates are then verified against
    the exact n-gram Jaccard so output precision is 1.0 — LSH only
    trades recall for scale. Only candidate pairs are verified (the
    point of LSH at scale), against the shared postings.
    """
    postings, _, cand = minhash_candidates(df, id_col, text_col)
    return verify_jaccard(cand, postings, threshold)


def candidate_overlap(cand: DataFrame, postings: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter, sa, sb) for candidate (doc_a, doc_b) pairs
    from a shingle-postings relation; a candidate sharing no shingle
    drops out.

    Candidate-local (r10): the postings are first semi-joined down to
    docs that appear in SOME candidate pair, so every later join moves
    O(|pairs| × shingles-per-doc) rows, independent of corpus size.
    Without this the (doc_b, sg) join's probe side (cand ⋈ exa) grows
    with the pair count, and once it crosses the broadcast threshold
    AQE falls back to shuffling the FULL postings relation — measured
    at sf10 (500k docs): 1.8 GB of the dedup chain's 1.9 GB shuffle
    was exactly that, invisible at sf1 where the probe side stayed
    broadcastable. The doc list is ids-only and at most 2·|pairs| rows,
    so its size is set by the near-dup count (banded LSH + hot-bucket
    caps keep pairs ≈ O(dups)), not the corpus: it is broadcast onto the
    postings, which never shuffle on doc. Deliberately not sized by an
    eager count(): a job per verify call re-ordered the pipeline's
    materialization (measured +8% on the CC-backed dedup rows at sf0.1;
    an earlier layout measured +17 s).

    Both persists are lazy (filled at first materialization): cand
    fans out to the docs list and the pair join, needed to both verify
    sides — Spark does not dedup repeated subtrees, so without the
    caches the LSH pipeline and the postings scan each run twice.
    ``cand`` is persisted in place, so a caller that reads it again
    (the calibration queries' signature compare) reads the cache."""
    cand = persist_tracked(cand)
    docs = (
        cand.select(F.col("doc_a").alias("doc"))
        .unionByName(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    docs = F.broadcast(docs)
    # r13 note (VERDICT r12 task 5): a candidate-local df≥2 prune of
    # the postings (drop shingles held by one candidate doc before the
    # pair joins) was implemented and MEASURED COUNTERPRODUCTIVE at
    # sf0.1/sf1 — the extra aggregate + semi-join exchanges cost more
    # than the (already join-eliminated) df=1 rows' shuffle saves on
    # the CC-backed queries (split_group_aware +1.3 s, dedup_clusters
    # +0.8 s at sf0.1). The prune lives in shingle_overlap instead,
    # where the hot-cap aggregate already pays for the counts.
    # r13 (guide §2.3 "shuffle keys and metadata instead of payloads";
    # sf100 stage evidence): the intersection join shuffled the raw
    # shingle STRINGS — 10.4 GiB of row data on the (doc_b, sg)
    # exchange alone at 5M docs, and every sort comparison was a string
    # compare. The join now runs on h = md5_int(sg, VERIFY_HASH_NCHARS)
    # (60-bit BIGINT) with EXACT collision routing: an h that maps to
    # more than one distinct sg within the candidate-doc postings
    # (expected count ~0: ~(3e7)²/2⁶¹ ≈ 4e-4 per run) is detected by a
    # one-pass aggregate, and its rows take the original string-equality
    # join; all other h are injective over `needed`, so h-equality ⇔
    # sg-equality and the union of the two branches is row-for-row the
    # old join. The detect aggregate's count doubles as the eager
    # materializer that fills the cand/needed caches sequentially (the
    # lazy persists otherwise race in concurrent AQE stage-jobs).
    needed = persist_tracked(
        postings.join(docs, on="doc", how="left_semi").withColumn(
            "h", md5_int(F.col("sg"), VERIFY_HASH_NCHARS)
        )
    )
    coll = persist_tracked(
        needed.groupBy("h")
        .agg(F.countDistinct("sg").alias("nsg"))
        .filter(F.col("nsg") > 1)
        .select("h")
    )
    branches = (
        [(needed, "h")]
        if coll.count() == 0
        else [
            (needed.join(coll, on="h", how="left_anti"), "h"),
            (needed.join(coll, on="h", how="left_semi"), "sg"),
        ]
    )
    parts = []
    for src, key in branches:
        exa = src.select(
            F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"), key
        )
        exb = src.select(
            F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"), key
        )
        parts.append(
            cand.join(exa, on="doc_a")
            .join(exb, on=["doc_b", key])
            .select("doc_a", "doc_b", "sz_a", "sz_b")
        )
    return _overlap(parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1]))


def verify_jaccard(
    cand: DataFrame, postings: DataFrame, threshold: float
) -> DataFrame:
    """Exact n-gram Jaccard of candidate (doc_a, doc_b) pairs, at or
    above ``threshold`` — precision 1.0 regardless of how the
    candidates were generated."""
    return (
        candidate_overlap(cand, postings)
        .select("doc_a", "doc_b", _jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def build_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
) -> None:
    """Persist the corpus-side MinHash dedup index: the banded
    signature stack (``bands.parquet``) and the shingle postings
    (``postings.parquet``).

    This is the batch half of production incremental dedup: the corpus
    is signed ONCE, and each daily batch joins against the saved index
    instead of re-reading corpus text (``incremental_minhash_pairs``).
    At cluster scale both tables would be bucketed — bands by
    (bid, bv) so the lookup join is shuffle-free on the index side,
    postings by doc for the verify join."""
    ex = _postings(df, id_col, text_col)
    sig = minhash_signatures(df, id_col, text_col, ex)
    minhash_band_stack(sig).write.mode("overwrite").parquet(
        os.path.join(index_dir, "bands.parquet")
    )
    ex.write.mode("overwrite").parquet(os.path.join(index_dir, "postings.parquet"))


def incremental_minhash_pairs(
    spark,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
    threshold: float,
    update_index: bool = False,
) -> DataFrame:
    """Near-dup pairs involving a NEW batch, against a saved index.

    Computes signatures/postings for the new batch only, then joins
    new bands against (saved ∪ new) bands — so candidates are exactly
    the new-vs-corpus and new-vs-new pairs; corpus-vs-corpus pairs
    (already found when the index was built) are never regenerated and
    corpus text is never re-read. Cost per batch is
    O(|batch| + matching index buckets), not O(|corpus|): the shape
    production dedup runs daily.

    Verification reads shingle postings from the index for the corpus
    side, so precision stays 1.0 without touching corpus text.

    ``update_index=True`` appends the batch's bands/postings to the
    index so the next batch sees this one.
    """
    new_postings = _postings(new_df, id_col, text_col)
    sig = minhash_signatures(new_df, id_col, text_col, new_postings)
    new_stack = persist_tracked(minhash_band_stack(sig))
    # r13 note: minhash_lsh_pairs eagerly materializes its band stack
    # to kill the concurrent-side signature race; HERE the race only
    # duplicates the NEW BATCH's signature pass (the corpus side comes
    # from the on-disk index), and a daily batch is small relative to
    # the corpus at every scale — measured at sf0.1 the extra count
    # job costs more than the duplicated batch sig saves, so no eager
    # fill.
    # The corpus side is the index MINUS this batch's ids. The
    # anti-join matters for correctness, not just hygiene: parquet
    # scans resolve files at EXECUTION time, so once update_index has
    # appended, a (lazy) re-execution of the returned pairs would see
    # the batch on the index side too and double-count every shingle
    # in the verify stage. Stripping batch ids makes the result
    # identical no matter when the plan runs (and makes re-running an
    # already-indexed batch idempotent).
    new_ids = new_df.select(F.col(id_col).alias("doc")).distinct()
    old_stack = spark.read.parquet(
        os.path.join(index_dir, "bands.parquet")
    ).join(new_ids, on="doc", how="left_anti")
    old_postings = spark.read.parquet(
        os.path.join(index_dir, "postings.parquet")
    ).join(new_ids, on="doc", how="left_anti")

    a = new_stack.select(F.col("doc").alias("doc_a"), "bid", "bv")
    b = old_stack.unionByName(new_stack).select(
        F.col("doc").alias("doc_b"), "bid", "bv"
    )
    # least/greatest ordering dedups the new-vs-new pairs that would
    # otherwise appear from both sides of the asymmetric join.
    cand = (
        a.join(b, on=["bid", "bv"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )
    pairs = verify_jaccard(
        cand, old_postings.unionByName(new_postings), threshold
    )
    if update_index:
        new_stack.write.mode("append").parquet(
            os.path.join(index_dir, "bands.parquet")
        )
        new_postings.write.mode("append").parquet(
            os.path.join(index_dir, "postings.parquet")
        )
    return pairs


# Truncate CC label lineage every N rounds (lazy localCheckpoint —
# materialized by the round's own signature aggregate).
_CC_CHECKPOINT_EVERY = 4
# Round budget of the label loop, and the first round that pointer-jumps
# (see connected_components).
_CC_MAX_ITER = 25
_CC_JUMP_FROM = 2


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Connected components by min-label propagation WITH pointer
    jumping: (node, component_id=min node id in component).

    Each round does (a) one-hop propagation over the symmetrized
    edge list (shuffle join + groupBy-min with map-side partials)
    and — from round ``_CC_JUMP_FROM`` on — (b) a pointer-jump: every
    node adopts its label's label, halving remaining label-tree
    depth. (a) alone converges in O(diameter) rounds, which a path
    graph turns into O(n); with (b) the loop is O(log diameter) —
    the Hash-to-Min shape, the difference between 30 rounds and 5 on
    a 30-node chain, and between hundreds and ~10 at 100 TB.

    The jump is DEFERRED (``_CC_JUMP_FROM = 2``, r04): it costs an extra
    nodes-sized self-join per round, and real dedup graphs are
    near-diameter-≤3 (small near-duplicate clusters) — they converge
    before a jump would ever fire, so the shallow common case pays
    r02's plain-propagation price (the r03 always-jump loop measured
    +57% on dedup_clusters at sf0.1) while deep/chain graphs — the
    r03 driver-OOM case — still engage the jump from round 3 and
    keep the O(log diameter) bound. The fixpoint itself is
    jump-independent (min reachable id per node).

    Labels are localCheckpoint'ed every ``_CC_CHECKPOINT_EVERY``
    rounds: persistence alone does NOT truncate the logical plan, and
    the per-round lineage growth otherwise makes driver-side plan
    processing (UI/AQE descriptions) quadratic — measured as a
    driver OOM on deep graphs. Checkpoints are the bounded tracked
    kind (caching.RoundCache): eager, no double-store, superseded
    blocks freed as soon as the next checkpoint lands. Deterministic:
    the fixpoint (min reachable id per node) is independent of
    iteration or partition order."""
    # CHECKPOINT (not persist) the raw edge list BEFORE symmetrizing:
    # the union has two branches over the same (possibly expensive —
    # e.g. MinHash) edge pipeline, and Spark does not dedup the
    # subtree; beyond that, every CC round REPLANS its whole analyzed
    # tree (caches substitute only at physical planning), so the edge
    # pipeline's lineage is re-analyzed per round. With r10's
    # candidate-local verify lineage (persists + broadcast semi-join)
    # that replanning measured +17 s over the loop at sf0.1 — the
    # checkpoint truncates it to a LogicalRDD leaf and returns round
    # planning to edges-up only. Tracked: blocks freed at the next
    # catalog query (the checkpointed edges are never re-derivable
    # afterwards, which every consumer already honors).
    edges = local_checkpoint_tracked(edges).df
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    sym = persist_tracked(sym)
    labels = persist_tracked(
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
    )
    # Convergence signal: per-node labels only ever DECREASE (min of a
    # shrinking set), so the exact sum of labels is strictly monotone
    # until the fixpoint — an unchanged sum ⇔ no node changed. One
    # map-side-combined aggregate per round instead of an exceptAll
    # (which would re-shuffle both label relations). DECIMAL(38,0)
    # keeps the sum exact at any corpus size.
    def _sig(lbl: DataFrame):
        return lbl.agg(
            F.sum(F.col("lab").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sig = _sig(labels)
    rounds = RoundCache(_CC_CHECKPOINT_EVERY)
    init_labels = labels
    for i in range(_CC_MAX_ITER):
        prop = sym.join(labels, sym.u == labels.node).select(
            F.col("v").alias("node"), "lab"
        )
        hop = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("lab").alias("lab"))
        )
        if i >= _CC_JUMP_FROM:
            # pointer jump: adopt the label's own label (always <= lab,
            # same component) — halves remaining label-tree depth. hop
            # appears on both sides, but its expensive half (the
            # aggregate's exchange) is a byte-identical subtree in both
            # branches, so ReuseExchange shares it — only the cheap
            # reduce-side HashAggregate runs twice (measured:
            # materializing hop instead is strictly slower).
            jump = hop.select(
                F.col("node").alias("jn"), F.col("lab").alias("jl")
            )
            new = hop.join(jump, hop.lab == jump.jn).select(
                "node", F.col("jl").alias("lab")
            )
        else:
            new = hop
        # _sig doubles as the round's materializing action: one Spark
        # job per round (the sig aggregate), not count + sig — the r08
        # advance() count was a redundant second job per CC round
        # (VERDICT r08 §wrong 2: +14% on both CC-backed bench queries).
        new, new_sig = rounds.advance(new, _sig)
        if i == 0:
            init_labels.unpersist()
        labels = new
        if new_sig == prev_sig:
            break
        prev_sig = new_sig
    else:  # pragma: no cover - defensive
        raise RuntimeError(f"connected_components: no fixpoint in {_CC_MAX_ITER} rounds")
    sym.unpersist()
    return labels


def minhash_clusters(
    df: DataFrame, id_col: str, text_col: str, threshold: float
) -> tuple[DataFrame, DataFrame]:
    """(pairs, labels): the MinHash-LSH near-dup pairs at ``threshold``
    (persisted, for callers that also read them) and their connected
    components as (``id_col``, cluster_id = min id in the component).
    Only docs in some pair are labelled."""
    pairs = persist_tracked(minhash_lsh_pairs(df, id_col, text_col, threshold))
    labels = connected_components(pairs).select(
        F.col("node").alias(id_col), F.col("lab").alias("cluster_id")
    )
    return pairs, labels


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc SimHash: bit b of the signature is the sign of the sum
    of ±1 votes from every token occurrence's hash bit b.

    Computed as SIMHASH_BITS conditional-sum aggregates over exploded
    tokens — one shuffle, no per-bit explode (input rows × 1, not ×
    bits). Band columns (8-bit slices) support hamming-bucketed
    candidate generation at scale.
    """
    tok = (
        _with_tokens(df, text_col)
        .select(F.col(id_col).alias("doc"), F.explode("__toks").alias("tk"))
        .withColumn("h", md5_int("tk"))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), bit).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"v{bit}")
        for bit in range(SIMHASH_BITS)
    ]
    per_doc = tok.groupBy("doc").agg(*votes)
    sig = sum(
        [
            F.when(F.col(f"v{bit}") > 0, F.lit(2**bit)).otherwise(F.lit(0))
            for bit in range(SIMHASH_BITS)
        ],
        start=F.lit(0),
    ).cast("bigint")
    out = per_doc.withColumn("simhash", sig).select("doc", "simhash")
    for bnd in range(SIMHASH_BITS // 8):
        out = out.withColumn(
            f"band{bnd}",
            F.shiftright(F.col("simhash"), bnd * 8).bitwiseAND(255).cast("int"),
        )
    return out


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs: candidates share ≥1 signature band — by
    pigeonhole, any pair with hamming distance < nbands must agree on
    at least one 8-bit band, so recall is exact for max_hamming <=
    nbands-1 — then verified by exact popcount hamming distance."""
    stacked = _stack_bands(
        simhash_signatures(df, id_col, text_col), SIMHASH_BITS // 8, ("simhash",)
    )
    return (
        band_pairs(stacked, carry=("simhash",))
        .withColumn(
            "hamming",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    max_bucket: int | None = None,
) -> DataFrame:
    """Asymmetric CONTAINMENT pairs: inter / |smaller shingle set| —
    the quote/inclusion detector Jaccard structurally misses (a small
    doc fully quoted inside a large one has containment 1.0 but
    Jaccard ≈ |small|/|large| → 0). Same shared-shingle kernel as
    ``jaccard_pairs``; only the verification ratio differs. Both
    metrics are emitted so the gap is visible per pair.
    """
    return (
        shingle_overlap(_postings(df, id_col, text_col), max_bucket)
        .withColumn("containment", F.col("inter") / F.least(F.col("sa"), F.col("sb")))
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment", _jaccard().alias("jaccard"))
    )
