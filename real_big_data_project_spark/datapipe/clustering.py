"""Distributed k-means (Lloyd's algorithm) over an embedding column.

The iterative workhorse behind IVF list construction, corpus bucketing,
and diversity sampling — the one genuinely iterative algorithm in the
engine's similarity family (similarity.py::ivf_centroids consumes an
OFFLINE assignment; this produces one).

Determinism contract (what makes an iterative float algorithm
oracle-checkable across engines):
  * seeds = the k vectors with the smallest ids (no RNG);
  * assignment = argmin of the squared L2 distance ROUNDED to
    `DIST_ROUND` dp, ties broken by cluster index — a total ordering;
  * centroid update = per-dimension mean ROUNDED to `CENTROID_ROUND` dp
    (the same convention as similarity.py::ivf_centroids), so the next
    iteration's inputs are bit-identical in both engines regardless of
    their float-summation order.

Scale shape: centroids are k×dim (tiny) and are BROADCAST to the
assignment pass — a map-only pass over the corpus, no corpus shuffle.
The update pass explodes dimensions and runs ONE codegen'd avg aggregate
(map-side partials). Per-iteration cost: one broadcast + one shuffle of
k×dim aggregates, corpus touched twice. The per-candidate distance is an
UNROLLED fixed-dim expression (codegen), not an interpreted HOF fold:
the assignment evaluates it n·k times, and at the round-9 SemDeDup cap
(k=4096) the interpreted evaluator — not the shuffle — was the plan cost.
The HOF form survives only as the dim-unknown fallback.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import CENTROID_ROUND, as_double

DIST_ROUND = 5
COARSE_N_PROBE = 2  # IVF-style probes per vector in the two-level assignment


def _sq_l2(a: str, b: str) -> F.Column:
    diff2 = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x)


def _sq_l2_fixed(a: str, b: str, dim: int) -> F.Column:
    """``_sq_l2`` unrolled over a known dimension: identical sequential
    accumulation order (bit-identical distances), but codegen'd instead
    of the interpreted HOF evaluator. The assignment pass evaluates this
    n·k times — at the round-9 k cap (auto_semdedup_k then capped at 4096) the
    interpreted fold, not the shuffle, was the plan cost (8.2e9
    interpreted evaluations at the 2M-vector organic sf100 scale)."""
    # One-call F.expr parse for plain column names: the py4j loop costs
    # ~260 round trips (~0.7 s measured) per instantiation and the
    # two-level k-means instantiates this tree six times per query —
    # see functions/vectors.py::dot_fixed. Identical parsed tree.
    if isinstance(a, str) and isinstance(b, str):
        terms = "".join(
            f" + ((`{a}`[{i}] - `{b}`[{i}]) * (`{a}`[{i}] - `{b}`[{i}]))"
            for i in range(dim)
        )
        return F.expr(f"0.0D{terms}")
    acc: F.Column = F.lit(0.0)
    for i in range(dim):
        d = F.col(a)[i] - F.col(b)[i]
        acc = acc + d * d
    return acc


def _assign(vecs: DataFrame, cents: DataFrame,
            dim: int | None = None,
            n_clusters: int | None = None,
            attach_v: bool = True) -> DataFrame:
    """(vec_id, v, cluster, dist): nearest centroid per vector — broadcast
    cross join (k rows per vector), rounded-distance argmin, cluster-index
    tiebreak.

    The argmin ENCODES (dist, cluster) into one LONG —
    ``round(dist·10^DIST_ROUND)·k + cluster`` — and takes ``min(long)``:
    `dist` is already rounded to DIST_ROUND dp so the scaled value is an
    exact integer, `cluster < k` keeps the encoding lexicographic, and a
    long has a MUTABLE UnsafeRow buffer, so the aggregate runs as a
    map-side-combining HashAggregate that collapses the n·k candidate
    stream per task without materializing it. The previous
    ``min(struct(dist, cluster, v))`` had a struct buffer — UnsafeRow
    cannot mutate those, so the plan fell back to SortAggregate, which
    SORTS the n·k stream (12.3e9 rows × the 64-dim vector payload at the
    2M-vector organic sf100 scale) with spill: that sort's files, not
    any shuffle, ENOSPC'd the production-k SemDeDup leg. The vector
    rides back in via one id-keyed join instead of through the
    aggregate. Decode is exact: the scaled dist is integral, `div`/`%`
    are integer ops, and ``scaled/10^dp`` re-produces round()'s double
    bit-for-bit (both are the correctly-rounded double of the same
    decimal). Falls back to the struct-min when k is unknown."""
    sq = _sq_l2_fixed("v", "c", dim) if dim else _sq_l2("v", "c")
    scored = vecs.crossJoin(F.broadcast(cents)).withColumn(
        "dist", F.round(sq, DIST_ROUND)
    )
    if not n_clusters:
        best = F.min(F.struct("dist", "cluster", "v")).alias("_b")
        out = (
            scored.groupBy("vec_id")
            .agg(best)
            .select(
                "vec_id", F.col("_b.v").alias("v"),
                F.col("_b.cluster").alias("cluster"),
                F.col("_b.dist").alias("dist"),
            )
        )
        return out.select("vec_id", "cluster", "dist") if not attach_v else out
    scale = 10 ** DIST_ROUND
    mult = int(n_clusters)
    key = (F.round(F.col("dist") * scale).cast("long") * mult
           + F.col("cluster").cast("long"))
    ids = (
        scored.select("vec_id", key.alias("_k"))
        .groupBy("vec_id")
        .agg(F.min("_k").alias("_k"))
        .select(
            "vec_id",
            (F.col("_k") % mult).cast("int").alias("cluster"),
            (F.expr(f"_k div {mult}").cast("double") / scale).alias("dist"),
        )
    )
    if not attach_v:
        # FINAL-pass form (round 11): the argmin rows already carry every
        # output column; the id-keyed join back to `vecs` exists only to
        # re-attach `v` for the next centroid update. kmeans_assign's
        # callers re-join vectors by id themselves, so the final pass
        # skipping the join removes one id-keyed shuffle join of two
        # corpus-sized frames per query with rows unchanged (ids is
        # exactly one row per vec_id either way).
        return ids.select("vec_id", "cluster", "dist")
    return ids.join(vecs, "vec_id").select("vec_id", "v", "cluster", "dist")


def _coarse_quantize(cents: DataFrame, dim: int | None, kc: int):
    """Mini two-pass k-means over the k FINE centroids themselves →
    (membership (cluster, coarse), coarse_cents (coarse, c)).

    This is the coarse quantizer of the two-level assignment: the input
    is k rows (k ≤ SEMDEDUP_K_HI = 65536 — metadata-sized relative to the
    corpus), so the
    k×kc mini cross join is trivial next to the n·√k main passes it
    unlocks. Same determinism contract as the corpus-level k-means:
    seeds = the kc smallest-INDEX fine centroids, rounded-distance
    argmin with index tiebreak, rounded-mean update. `coarse_cents` is
    the UPDATED set — the same frame the membership was assigned
    against, so a vector probing its nearest coarse cell sees exactly
    the cells the fine centroids were filed under."""
    cvecs = cents.select(F.col("cluster").alias("vec_id"), F.col("c").alias("v"))
    seeds = cvecs.orderBy("vec_id").limit(kc)
    sw = Window.orderBy("vec_id")
    cc = seeds.withColumn("cluster", F.row_number().over(sw) - 1).select(
        "cluster", F.col("v").alias("c")
    )
    asg = _assign(cvecs, cc, dim, n_clusters=kc)
    cc = _update(asg, dim)
    asg = _assign(cvecs, cc, dim, n_clusters=kc, attach_v=False)
    membership = asg.select(
        F.col("vec_id").alias("cluster"), F.col("cluster").cast("int").alias("coarse")
    )
    return membership, cc.select(F.col("cluster").cast("int").alias("coarse"), "c")


def _assign_two_level(
    vecs: DataFrame,
    cents: DataFrame,
    dim: int | None,
    k: int,
    kc: int,
    n_probe: int = COARSE_N_PROBE,
    attach_v: bool = True,
) -> DataFrame:
    """(vec_id, v, cluster, dist): two-level (coarse→fine, IVF-style)
    nearest-centroid assignment — the n·O(√k) replacement for `_assign`'s
    brute n·k scan at the production SemDeDup k (VERDICT r9 item 2: the
    old k=4096 auto-cap made brute assignment ~25B distance evals at the
    3M-vector organic sf100 scale and timed out the sweep leg; SemDeDup
    itself assigns through faiss's coarse quantizer for the same reason).

    Shape: (1) coarse-quantize the k fine centroids into kc ≈ √k cells
    (mini k-means over k rows); (2) per vector, score the NON-EMPTY
    coarse cells (n·kc codegen'd distance evals, map-only broadcast
    cross join) and keep the `n_probe` nearest — the per-vector top-p is
    a collect_list of (dist, coarse)-encoded longs, array_sort, slice:
    an ObjectHashAggregate whose partials collapse each vector's kc
    candidates before the shuffle; (3) fine argmin ONLY against the
    fine centroids filed under the probed cells (n·n_probe·k/kc evals
    on average, broadcast join — no shuffle can skew on a hot cell),
    via the same encoded-long HashAggregate as `_assign`. Vectors ride
    back in through id-keyed joins, never through an aggregate buffer
    (the round-9 SortAggregate/ENOSPC lesson).

    Determinism: distances rounded to DIST_ROUND, ties broken by coarse
    index then cluster index — the same total ordering as `_assign`, so
    a SQL mirror (row_number over (d, index)) is bit-equal. Probing only
    NON-EMPTY cells guarantees every vector gets ≥1 fine candidate (no
    dropped rows), and at pass 1 each seed vector's top-1 probe IS the
    cell its own zero-distance centroid was filed under (identical
    score rows → identical argmin), preserving the no-empty-seed-cluster
    property of the exact path.

    The result is a deterministic APPROXIMATION of the brute argmin —
    a vector near a coarse boundary can assign to a second-best fine
    cluster. That is the IVF trade the SemDeDup paper itself makes;
    recall against planted duplicates is measured, not assumed
    (`tools/measure.py sweep organic_sf100` records dups_<scale>)."""
    # Pin: the mini k-means makes several passes over `cents`, whose
    # lineage at pass 2 is a full-corpus update aggregate (and at pass 1
    # a corpus TakeOrdered) — unpinned, each mini-pass re-runs it.
    cents = cents.localCheckpoint(eager=False)
    membership, ccents = _coarse_quantize(cents, dim, kc)
    # Both sides are ≤ kc rows, but both descend from aggregates so
    # Catalyst can't size them — without the hint this planned as a
    # SortMergeJoin (two shuffles of metadata-sized frames).
    pcc = ccents.join(
        F.broadcast(membership.select("coarse").distinct()), "coarse")
    sq = _sq_l2_fixed("v", "c", dim) if dim else _sq_l2("v", "c")
    scale = 10 ** DIST_ROUND
    ckey = (
        F.round(F.round(sq, DIST_ROUND) * scale).cast("long") * kc
        + F.col("coarse").cast("long")
    )
    probed = (
        vecs.crossJoin(F.broadcast(pcc))
        .select("vec_id", ckey.alias("_ck"))
        .groupBy("vec_id")
        .agg(F.slice(F.array_sort(F.collect_list("_ck")), 1, n_probe).alias("_cks"))
        .select(
            "vec_id",
            F.explode(F.transform("_cks", lambda x: (x % kc).cast("int"))).alias(
                "coarse"
            ),
        )
    )
    fcand = cents.join(membership, "cluster").select("coarse", "cluster", "c")
    mult = int(k)
    fkey = (
        F.round(F.round(sq, DIST_ROUND) * scale).cast("long") * mult
        + F.col("cluster").cast("long")
    )
    ids = (
        probed.join(vecs, "vec_id")
        .join(F.broadcast(fcand), "coarse")
        .select("vec_id", fkey.alias("_k"))
        .groupBy("vec_id")
        .agg(F.min("_k").alias("_k"))
        .select(
            "vec_id",
            (F.col("_k") % mult).cast("int").alias("cluster"),
            (F.expr(f"_k div {mult}").cast("double") / scale).alias("dist"),
        )
    )
    if not attach_v:
        # Same final-pass contraction as `_assign`: skip the id-keyed
        # re-attach join when no later update pass needs the vector.
        return ids.select("vec_id", "cluster", "dist")
    return ids.join(vecs, "vec_id").select("vec_id", "v", "cluster", "dist")


def _update(assigned: DataFrame, dim: int | None = None) -> DataFrame:
    """(cluster, c): per-dimension mean of the members, rounded.

    With a known dimension this is ONE codegen'd hash aggregate straight
    to the centroid array — ``array(round(avg(v[0]), dp), ...)`` — i.e.
    one exchange of k×dim partials and no row explosion (round 11; guide
    §2.3 "aggregate before you shuffle"). The explode form it replaces
    shuffled an n×dim row stream through TWO exchanges ((cluster, dim)
    partial means, then collect_list+array_sort per cluster) — at corpus
    scale that is a 64× larger shuffle for the same k×dim result. The
    per-(cluster, dim) mean sums the identical value multiset either
    way and is rounded to CENTROID_ROUND before use, the same tolerance
    contract that already absorbs engine-order differences; the
    dim-unknown fallback keeps the explode shape."""
    if dim:
        arr = ", ".join(
            f"round(avg(`v`[{i}]), {CENTROID_ROUND})" for i in range(dim)
        )
        return assigned.groupBy("cluster").agg(F.expr(f"array({arr})").alias("c"))
    per_dim = (
        assigned.select("cluster", F.posexplode("v").alias("dim", "val"))
        .groupBy("cluster", "dim")
        .agg(F.round(F.avg("val"), CENTROID_ROUND).alias("cval"))
    )
    return (
        per_dim.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cval"))).alias("_dc"))
        .select("cluster", F.transform("_dc", lambda x: x["cval"]).alias("c"))
    )


def coarse_k(k: int) -> int:
    """ceil(sqrt(k)) — the coarse-quantizer size of the two-level
    assignment. Integer-exact (math.isqrt, no float sqrt) so the Python
    value always agrees with a SQL mirror's CAST(ceil(sqrt(k))) (double
    sqrt cannot cross an integer boundary for k ≤ SEMDEDUP_K_HI = 65536:
    doubles hold ≤2^53 integers exactly and IEEE sqrt is correctly
    rounded)."""
    import math

    r = math.isqrt(max(k, 1))
    return r if r * r == k else r + 1


def kmeans_assign(
    emb: DataFrame,
    k: int = 4,
    n_assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    two_level: bool = False,
    n_probe: int = COARSE_N_PROBE,
    dim: int | None = None,
) -> DataFrame:
    """Run Lloyd's k-means and return the final assignment
    (vec_id, cluster, dist). `n_assign` assignment passes with
    `n_assign - 1` centroid updates between them.

    Seeding from the k smallest-id vectors guarantees no cluster starts
    empty (each seed is at distance 0 from its own centroid), so neither
    engine needs an empty-cluster repair rule.

    `two_level=True` swaps each brute n·k assignment pass for the
    coarse→fine `_assign_two_level` (kc = ceil(√k) coarse cells,
    `n_probe` probes): n·O(√k) per pass — the production path for
    corpus-scaled k (SemDeDup's auto-k caps at 65536; at the pre-round-10
    4096 cap, already, brute
    assignment is the measured sf100 scale wall). The two-level result
    is a deterministic approximation of the brute argmin; the exact
    path remains the default for the small fixed-k analytics queries.
    """
    from ..functions.vectors import infer_dim

    vecs = emb.select(F.col(id_col).alias("vec_id"), as_double(vec_col).alias("v"))
    if dim is None:
        dim = infer_dim(vecs, "v")  # one LIMIT-1 job; unlocks codegen distances
    seeds = vecs.orderBy("vec_id").limit(k)  # TakeOrdered — distributed
    sw = Window.orderBy("vec_id")  # k rows only: the global window is safe
    cents = seeds.withColumn("cluster", F.row_number().over(sw) - 1).select(
        "cluster", F.col("v").alias("c")
    )
    # The LAST pass skips the id-keyed `v` re-attach join (attach_v=False):
    # only a following `_update` needs the vector, and callers re-join
    # vectors by id themselves — one corpus-sized shuffle join less.
    if two_level:
        kc = coarse_k(k)

        def _pass(c: DataFrame, last: bool) -> DataFrame:
            return _assign_two_level(vecs, c, dim, k, kc, n_probe=n_probe,
                                     attach_v=not last)

    else:

        def _pass(c: DataFrame, last: bool) -> DataFrame:
            return _assign(vecs, c, dim, n_clusters=k, attach_v=not last)

    assigned = _pass(cents, n_assign == 1)
    for i in range(n_assign - 1):
        cents = _update(assigned, dim)
        assigned = _pass(cents, i == n_assign - 2)
    return assigned.select(
        "vec_id", F.col("cluster").cast("int").alias("cluster"), "dist"
    )


def ensure_kmeans_lists_fixture(
    spark,
    sf_dir: str,
    k: int,
    n_assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The k-means inverted-list assignment, MATERIALIZED once per
    (testdata generation, k, n_assign) under ``_artifacts/`` — a real IVF
    index is built offline and stored, not re-clustered per query
    (VERDICT r5 item 8's fixture pattern). Deterministic seeds make the
    stored assignment identical to a live ``kmeans_assign`` run, so
    oracles that recompute the clustering still agree bit-for-bit. Cached
    via ``ensure_parquet_fixture`` (atomic publish; key folds in the
    rounding constants the assignment depends on, so changing them
    rebuilds instead of serving stale clusters)."""
    from ..sources.registry import ensure_parquet_fixture, load_table

    return ensure_parquet_fixture(
        spark, "ivf_lists", sf_dir,
        params=(f"k={k}|a={n_assign}|{id_col}|{vec_col}"
                f"|dist_dp={DIST_ROUND}|cent_dp={CENTROID_ROUND}"),
        build=lambda: kmeans_assign(
            load_table(spark, sf_dir, "embeddings"),
            k=k, n_assign=n_assign, id_col=id_col, vec_col=vec_col,
        ).select(id_col, "cluster"),
    )


def ensure_kmeans_centroids_fixture(
    spark,
    sf_dir: str,
    k: int,
    n_assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The (label, centroid) frame of the stored IVF index, MATERIALIZED
    beside ``ivf_lists`` (VERDICT r6 item 3): a real IVF index stores its
    coarse quantizer with the lists, so probe selection at query time is
    a read of k rows — not a corpus-wide posexplode+avg re-aggregation
    per run. Same cache-key discipline as the lists fixture (k, passes,
    rounding dp); identical output to a live ``ivf_centroids`` over the
    stored assignment."""
    from ..datapipe.similarity import ivf_centroids
    from ..sources.registry import ensure_parquet_fixture, load_table

    def _build() -> DataFrame:
        lists = ensure_kmeans_lists_fixture(
            spark, sf_dir, k=k, n_assign=n_assign,
            id_col=id_col, vec_col=vec_col,
        ).select(id_col, F.col("cluster").alias("label"))
        return ivf_centroids(
            load_table(spark, sf_dir, "embeddings"),
            id_col=id_col, vec_col=vec_col, lists=lists,
        )

    return ensure_parquet_fixture(
        spark, "ivf_centroids", sf_dir,
        params=(f"k={k}|a={n_assign}|{id_col}|{vec_col}"
                f"|dist_dp={DIST_ROUND}|cent_dp={CENTROID_ROUND}"),
        build=_build,
    )
