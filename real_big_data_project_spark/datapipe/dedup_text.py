"""Text deduplication families: exact, MinHash+LSH, n-gram Jaccard,
SimHash, and winnowing-style document fingerprints.

All hashing is md5-based (functions/hashing.py) so signatures are
bit-reproducible in the DuckDB oracle. Every operator is expression-only
(whole-stage codegen; no Python in the hot path).

Scale shape (the 100 TB story):
  * signatures are a map-only pass over the corpus;
  * candidate generation shuffles once on the band/bucket key — group
    sizes are bounded by design (a band key only collides for genuinely
    similar docs), and AQE skew-join splitting covers adversarial keys;
  * verification (Jaccard / Hamming) runs only on candidate pairs, never
    the O(n²) cross join.
"""

from __future__ import annotations

import warnings
import weakref

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import normalized_tokens, word_shingles
from ..functions.text import fingerprint

# 64-bit fingerprint in 4 bands of 16 bits: hamming ≤ 3 ⇒ ≥1 identical
# band (pigeonhole). Band width is the scale lever: an 8-bit band has only
# 256 distinct values, so every bucket holds n/256 docs and candidates grow
# O(n²/256) — degenerate at any real corpus size (and measured so on a
# low-token-diversity corpus: 1.1M candidate pairs at 8k docs). 16-bit
# bands give 65k buckets, and 64 fingerprint bits make hamming ≤ 3 mean
# real near-duplication instead of short-doc hash noise.
SIMHASH_BITS = 64
SIMHASH_BANDS = 4


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Exact dedup via content fingerprint: one row per distinct content,
    keeping the smallest doc_id (deterministic keeper policy) and the
    group size. A single hash-aggregate — the cheapest dedup at any scale."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_docs"),
        )
    )


_FAN_PROBE_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
# frames whose probe could not be planned (the gate was skipped); the
# first skip in a process warns, later ones only count
fan_out_skips = 0


def _fan_out(df: DataFrame, key: str,
             probe: DataFrame | None = None) -> DataFrame:
    """Fan a SMALL scan out to the session's parallelism before heavy
    map-only work (round 12, VERDICT r11 item 1's second half). The r11
    shuffle removals run the tokenize→gram→hash pipelines at file-split
    parallelism, and parquet can only split at row-group boundaries — so
    a single-row-group input (every sf0.1 bench table) caps every
    downstream map stage at ONE task no matter the split conf, and the
    openCostInBytes fix can't reach it. When the input's planned
    partition count is below the session parallelism, hash-repartition
    by the doc id (deterministic under retries — guide §2.5; never
    round-robin, whose sort-before-repartition costs more than the
    shuffled bytes here). The shuffled bytes are the small input itself.
    At production scale the gate is FALSE (scan splits ≫ cores): the
    plan is untouched and no corpus-text-sized shuffle is reintroduced.
    Only exact-arithmetic consumers sit downstream (min / collect_set /
    count / integer votes / canonicalized collect_list), so results are
    partition-order-invariant by construction.

    The probe (`.rdd.getNumPartitions()`) physically plans the frame and
    runs with_near_duplicates' tiny broadcast-offset job — measured
    ~0.3 s per FRESH DataFrame at sf0.1 — so it is memoized per probe
    object (``probe`` is the caller's shared `docs` frame; map-only
    select/filter preserve the partition count, and one query's
    shingle/signature builders all reuse the same corpus object, so the
    cost is paid once per query build, not once per call).

    A frame the probe cannot plan — a streaming frame raises
    AnalysisException, it only runs under ``writeStream.start()`` — is
    returned as it is: the gate is skipped, counted in ``fan_out_skips``
    and warned about once. Any other error propagates."""
    global fan_out_skips
    src = probe if probe is not None else df
    n_parts = _FAN_PROBE_CACHE.get(src)
    if n_parts is None:
        try:
            n_parts = src.rdd.getNumPartitions()
        except AnalysisException as exc:
            fan_out_skips += 1
            if fan_out_skips == 1:
                warnings.warn(
                    "doc-id fan-out gate skipped, frame left as planned: "
                    + str(exc).splitlines()[0], RuntimeWarning, stacklevel=2)
            return df
        _FAN_PROBE_CACHE[src] = n_parts
    n = df.sparkSession.sparkContext.defaultParallelism
    if n_parts >= n:
        return df
    return df.repartition(n, F.col(key))


def exploded_shingles(docs: DataFrame, n: int, id_col: str = "doc_id",
                      text_col: str = "text",
                      distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) rows — distinct n-word grams, built codegen-side.

    ``distinct=False`` skips the trailing per-(doc, shingle) dedup — a
    FULL corpus-gram-sized exchange — and returns the raw gram stream
    (map-only). Use it whenever the consumer's own aggregate is
    duplicate-insensitive: per-salt `min` (minhash) and `collect_set`
    (ngram / containment set builds) produce bit-identical results over
    duplicate grams, so the distinct's exchange is pure cost there
    (round 11; it was the dominant shuffle of the organic-sf100 ngram
    stage decomposition, _artifacts/diag_ngram.json).

    posexplode tokens → per-row array lookups `get(_toks, _pos+i)` →
    concat: every step is whole-stage-codegen'd AND map-only. The round-11
    form replaces the previous window `lead(_tok, i)` per doc: posexplode
    emits dense positions 0..k-1, so lead(i) over (doc_id ORDER BY _pos)
    is definitionally the token at _pos+i — the same value the 0-based
    `get` reads straight out of the carried array, with no
    Exchange(doc_id) + Sort + Window. That exchange shuffled the FULL
    token array once per exploded token row (corpus_tokens × array-sized
    rows — the widest shuffle in every shingle pipeline); now the wide
    rows never leave the scan stage. The HOF `transform(sequence, slice,
    join)` formulation in functions/hashing.py::word_shingles computes
    the same set but interpreted (~300 lambda evals per doc). Docs
    shorter than n tokens contribute their full normalized text as the
    single shingle, exactly like word_shingles (equality pinned by
    tests/test_datapipe.py).
    """
    toks = normalized_tokens(text_col)
    base = _fan_out(docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("_toks"),
    ), "doc_id", probe=docs)
    pos = base.select(
        "doc_id", "_toks", F.size("_toks").alias("_k"),
        F.posexplode("_toks").alias("_pos", "_tok"),
    )
    # lead(_tok, i) ≡ get(_toks, _pos + i): positions are dense per doc.
    nbrs = [F.col("_tok")] + [F.get("_toks", F.col("_pos") + F.lit(i))
                              for i in range(1, n)]
    grams = (
        pos.filter(
            (F.col("_k") < n) & (F.col("_pos") == 0)  # short-doc fallback
            | (F.col("_pos") + F.lit(n - 1) < F.col("_k"))
        )
        .withColumn(
            "shingle",
            F.when(F.col("_k") < n,
                   F.array_join(F.col("_toks"), " "))
            .otherwise(F.concat_ws(" ", *nbrs)),
        )
    )
    out = grams.select("doc_id", "shingle")
    return out.distinct() if distinct else out


def shingle_sets(docs: DataFrame, n: int, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    # collect_set is duplicate-insensitive → skip the distinct's exchange.
    return (
        exploded_shingles(docs, n, id_col, text_col, distinct=False)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("shingles"))
    )


MINHASH_SALTS = ("a", "b")      # one md5 per salt per shingle
SLICES_PER_MD5 = 4              # 4 disjoint 8-hex-char slices per md5
MINHASH_BANDS_N = 4
MINHASH_ROWS = 2                # 4 bands × 2 rows over the 8 components


def minhash_components(docs: DataFrame, n_shingle: int = 3,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Per-doc MinHash signature as 8 columns m0..m7.

    Shape matters more than hash count at scale: shingles are EXPLODED and
    the per-salt minima come from one codegen'd hash aggregate (map-side
    partial min), instead of interpreted higher-order-function folds — HOF
    lambdas are evaluated row-at-a-time outside whole-stage codegen and
    were the bottleneck at sf0.1. Hash count is economized the standard
    way: each md5 yields 4 independent 32-bit components (disjoint
    8-hex-char slices), so 8 components cost 2 md5 calls per shingle.
    """
    # distinct=False: the per-salt min below is idempotent over duplicate
    # grams (same md5 per repeated shingle), so the per-(doc, shingle)
    # dedup's full exchange is pure cost — with it gone, the ONLY
    # corpus-gram-sized shuffle left in the signature build is the
    # map-side-combined min partials (8 minima per doc). Round 11.
    sh = exploded_shingles(docs, n_shingle, id_col, text_col,
                           distinct=False).select(
        "doc_id", F.col("shingle").alias("s")
    )
    hashed = sh.select(
        "doc_id",
        *[F.md5(F.concat(F.lit(f"{salt}:"), F.col("s"))).alias(f"_h{i}")
          for i, salt in enumerate(MINHASH_SALTS)],
    )
    aggs = []
    for i in range(len(MINHASH_SALTS)):
        for k in range(SLICES_PER_MD5):
            comp = i * SLICES_PER_MD5 + k
            aggs.append(
                F.min(F.substring(f"_h{i}", k * 8 + 1, 8)).alias(f"m{comp}")
            )
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, band) rows: band key = band index + md5 of its 2 components."""
    bands = [
        F.concat(
            F.lit(f"b{b}:"),
            F.md5(F.concat_ws("|", *[F.col(f"m{b * MINHASH_ROWS + r}")
                                     for r in range(MINHASH_ROWS)])),
        )
        for b in range(MINHASH_BANDS_N)
    ]
    return sig.select("doc_id", F.explode(F.array(*bands)).alias("band"))


def minhash_lsh_candidates(
    docs: DataFrame,
    n_shingle: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding: (doc_a < doc_b, n_bands) candidate pairs.

    shingle-explode → codegen'd min aggregate (one shuffle on doc_id) →
    band keys → self-equi-join on the band key (one shuffle on band) →
    count shared bands. With 4 bands × 2 rows, docs with Jaccard j collide
    w.p. 1-(1-j²)⁴ — ≈1 for the planted near-dups (j ≈ 0.9), ≈0 for
    unrelated 3-gram shingle sets.

    ``max_bucket`` guards against DEGENERATE buckets (a boilerplate blob
    shared by 30% of the corpus puts b docs in one bucket → b² pairs, the
    blowup shape the round-3 band widening hit by accident): buckets
    larger than the cap emit STAR edges (every member → the bucket's min
    doc_id, O(b) rows) instead of all pairs. The star keeps every member
    of the bucket CONNECTED — exactly what component-based dedup needs —
    while giving up direct pairwise candidates inside oversized buckets
    (a pair of dissimilar docs colliding in a hot bucket is no longer
    directly verified; acceptable, since hot buckets are precisely where
    all-pairs verification is unpayable). Default None = exact all-pairs,
    which every DuckDB oracle mirrors; tests/test_stress.py pins the
    capped path's pair ceiling + connectivity on a planted skew corpus.
    """
    # Pin the per-doc SIGNATURE frame (compact: one row per doc), not the
    # exploded band frame: both sides of the self-join read it, and
    # without a pin the shingle-explode + md5 + min-aggregate pipeline
    # executes once per side. Pinning AFTER the explode instead was
    # measured ~2× SLOWER overall — a checkpoint is a stats barrier, and
    # placing it on the wide exploded frame demotes the band join's
    # broadcast to a sort-merge. Lazy: the first action materializes.
    sig = minhash_components(docs, n_shingle, id_col, text_col)
    bands = minhash_band_keys(sig.localCheckpoint(eager=False))
    if max_bucket is not None:
        stats = bands.groupBy("band").agg(
            F.count("*").alias("_bn"), F.min("doc_id").alias("_bmin")
        )
        bj = bands.join(stats, "band")
        small = bj.filter(F.col("_bn") <= max_bucket)
        a, b = small.alias("a"), small.alias("b")
        allp = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        star = bj.filter(
            (F.col("_bn") > max_bucket) & (F.col("doc_id") != F.col("_bmin"))
        ).select(F.col("_bmin").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        return (
            allp.unionByName(star)
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_bands"))
        )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_bands"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    n_shingle: int = 3,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard verification over candidate pairs:
    (doc_a, doc_b, jaccard ≥ threshold). Jaccard is |∩|/|∪| of distinct
    shingle sets — integer-ratio arithmetic, so bit-identical across
    engines. Joins shingle sets to the (small) candidate set; never O(n²)."""
    # Both verification sides read the shingle sets but the frame is NOT
    # pinned: its values are corpus-sized token arrays, and at organic
    # sf10 the pin measured ~25% SLOWER than recomputing the streaming
    # explode+collect_set per side (checkpoint IO + block-manager
    # residency the session then carries) — the pin rule's value-width
    # counter-case, same verdict as the exploded-band pin.
    #
    # Shingles travel every shuffle here as xxhash64 LONGS, not raw
    # strings: set cardinalities — the only thing Jaccard reads — are
    # preserved because a deterministic hash maps distinct shingles to
    # distinct longs (collision odds ~|set|²·|pairs|/2⁶⁴ ≈ 5e-9 at the
    # organic sf100 scale; the DuckDB oracle over raw string lists stays
    # bit-equal). Hashing on the EXPLODED rows, before the collect_set,
    # narrows both the per-doc aggregate's shuffle (16 B/row vs an avg
    # 3-token shingle ≈ 25 B UTF-8) and the two verification joins
    # (array<long> vs array<string>): the raw-string form's cumulative
    # shuffle ENOSPC'd the 5M-doc organic sf100 leg on this machine's
    # 78 GB of free scratch.
    # distinct=False (round 11): collect_set dedups by value, so the
    # per-(doc, shingle) distinct upstream was a second corpus-gram-sized
    # exchange for the identical set — stage B of the organic-sf100
    # decomposition ran this shape TWICE (both verification sides).
    sh = (
        exploded_shingles(docs, n_shingle, id_col, text_col,
                          distinct=False)
        .select("doc_id", F.xxhash64("shingle").alias("h"))
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("shingles"))
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"),
                   F.size("shingles").alias("_n_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"),
                   F.size("shingles").alias("_n_b"))
    # |A∪B| = |A| + |B| − |A∩B| for sets (collect_set output is distinct;
    # every doc PRESENT in the aggregate has ≥1 shingle — token-less docs
    # are absent from it and drop out of the inner joins, so arrays in
    # joined rows are non-null/non-empty): the arithmetic form
    # drops array_union's second per-pair hash build, which after the
    # batch-2/3 shuffle fixes was ~half of the verification joins' CPU —
    # themselves ~91% of the full query (guide §1.2 step 2: per-task work,
    # once the shape is right). int32 identity ⇒ the double divide is
    # bit-identical to the array_union form.
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.col("_n_a") + F.col("_n_b") - inter)
    return (
        candidates.select("doc_a", "doc_b")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Per-doc 64-bit SimHash as (doc_id, sig: '0'/'1'×64, sig_hi, sig_lo).

    Same fingerprint definition as functions/hashing.py::simhash64_bits
    (bit p ≤ 32 = sign of the ±1 vote over tokens of the HIGH bit of md5
    hex nibble p; bit p > 32 = the same vote of the SECOND bit of nibble
    p−32 — one md5 yields all 64 independent bits), but computed in the
    shape that scales: tokens EXPLODED, one md5 per token, the nibble bits
    pulled out of four 32-bit integer chunks with shifts, and all 64 vote
    counts produced by ONE codegen'd hash aggregate. The HOF-fold
    formulation recomputed md5 per bit position and ran interpreted —
    ~100× slower at sf0.1.

    The integer form is split (sig_hi = bits 1–32, sig_lo = bits 33–64) so
    each half stays in non-negative long range — no sign games with bit 63.
    """
    toks = _fan_out(docs.select(
        F.col(id_col).alias("doc_id"),
        normalized_tokens(text_col).alias("_tk"),
    ), "doc_id", probe=docs).select(
        "doc_id", F.explode("_tk").alias("t")
    ).select("doc_id", F.md5("t").alias("m"))
    chunks = toks.select(
        "doc_id",
        *[F.conv(F.substring("m", k * 8 + 1, 8), 16, 10).cast("long").alias(f"_h{k}")
          for k in range(4)],
    )
    # The 64 vote sums, 64 bit CASEs, and the two packed halves are built
    # as SQL strings parsed with ONE F.expr call each (round 11): the
    # column-op formulation cost ~600 py4j round trips of pure
    # driver-side build time per instantiation (guide §1.2 — the measured
    # bottleneck was the DRIVER, not the executors; same fix as
    # functions/vectors.py). The parsed trees analyze to the identical
    # expressions: sum(shiftright & 1) votes, 2·ones ≥ n majority CASEs,
    # and exact integer sums of distinct powers of two.
    count_exprs = []
    for p in range(1, SIMHASH_BITS + 1):
        nib = (p - 1) % 32          # which of the 32 hex nibbles
        k, j = nib // 8, nib % 8    # 8-hex-char chunk, nibble within it
        # bit 3 (high) of the nibble for positions 1..32, bit 2 for 33..64
        shift = (7 - j) * 4 + (3 if p <= 32 else 2)
        count_exprs.append(
            F.expr(f"sum(shiftright(_h{k}, {shift}) & 1)").alias(f"c{p}")
        )
    votes = chunks.groupBy("doc_id").agg(F.count("*").alias("n"), *count_exprs)
    # vote_p >= 0  ⇔  2·ones_p >= n_tokens
    def _bit(p: int) -> str:
        return f"(CASE WHEN (2 * c{p}) >= n THEN 1 ELSE 0 END)"

    sig = F.expr(
        "concat(" + ", ".join(
            f"cast({_bit(p)} as string)" for p in range(1, SIMHASH_BITS + 1)
        ) + ")"
    )
    sig_hi = F.expr(" + ".join(
        f"cast(({_bit(p)} * {1 << (32 - p)}L) as bigint)"
        for p in range(1, 33)
    ))
    sig_lo = F.expr(" + ".join(
        f"cast(({_bit(p + 32)} * {1 << (32 - p)}L) as bigint)"
        for p in range(1, 33)
    ))
    return votes.select(
        "doc_id", sig.alias("sig"),
        sig_hi.alias("sig_hi"), sig_lo.alias("sig_lo"),
    )


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs: (doc_a < doc_b, hamming ≤ max_hamming).

    64-bit fingerprint, blocked on 4 bands of 16 bits: any pair within
    Hamming distance 3 shares at least one exact band (pigeonhole), so the
    band join finds ALL qualifying pairs — no recall loss, one shuffle,
    and 65k distinct values per band keep bucket fan-out sublinear.
    Hamming is bit_count(xor) on the two integer halves — codegen'd bit
    ops in the join, never an interpreted per-character fold.

    ``max_bucket`` caps degenerate buckets exactly like
    minhash_lsh_candidates: oversized band buckets emit star edges to the
    bucket-min doc (still hamming-verified), trading pigeonhole
    completeness INSIDE hot buckets for O(b) instead of O(b²) work —
    connectivity through the bucket min is preserved, which is what
    component-dedup consumes. Default None = exact (oracle-mirrored).
    """
    width = SIMHASH_BITS // SIMHASH_BANDS
    # NOT pinned: the band self-join's two sides are byte-identical
    # subtrees over the signature frame, so ReusedExchange already
    # executes the token-explode + md5 + 64-vote aggregate once. The
    # round-7 pin here measured ~10% slower at organic sf10 (and its
    # apparent sf0.1 win was within the ±1 s noise band) — reverted on
    # measurement; contrast minhash_lsh_candidates, whose 8-int
    # signature pin measured a real win on the same sweep.
    sig = simhash_signatures(docs, id_col, text_col)
    band_keys = F.array(*[
        F.concat(F.lit(f"b{i}:"), F.substring("sig", i * width + 1, width))
        for i in range(SIMHASH_BANDS)
    ])
    bands = sig.select(
        "doc_id", "sig_hi", "sig_lo", F.explode(band_keys).alias("band")
    )
    if max_bucket is not None:
        stats = bands.groupBy("band").agg(
            F.count("*").alias("_bn"), F.min("doc_id").alias("_bmin")
        )
        bj = bands.join(stats, "band")
        small = bj.filter(F.col("_bn") <= max_bucket)
        a, b = small.alias("a"), small.alias("b")
        allp = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig_hi").alias("hi_a"), F.col("a.sig_lo").alias("lo_a"),
            F.col("b.sig_hi").alias("hi_b"), F.col("b.sig_lo").alias("lo_b"),
        )
        mins = bj.filter(F.col("doc_id") == F.col("_bmin")).select(
            "band",
            F.col("doc_id").alias("doc_a"),
            F.col("sig_hi").alias("hi_a"), F.col("sig_lo").alias("lo_a"),
        )
        star = (
            bj.filter(
                (F.col("_bn") > max_bucket) & (F.col("doc_id") != F.col("_bmin"))
            )
            .select(
                "band",
                F.col("doc_id").alias("doc_b"),
                F.col("sig_hi").alias("hi_b"), F.col("sig_lo").alias("lo_b"),
            )
            .join(mins, "band")
            .select("doc_a", "doc_b", "hi_a", "lo_a", "hi_b", "lo_b")
        )
        pairs = allp.unionByName(star).distinct()
    else:
        a, b = bands.alias("a"), bands.alias("b")
        pairs = (
            a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.sig_hi").alias("hi_a"), F.col("a.sig_lo").alias("lo_a"),
                F.col("b.sig_hi").alias("hi_b"), F.col("b.sig_lo").alias("lo_b"),
            )
            .distinct()
        )
    ham = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    )
    return (
        pairs.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


WINNOW_GRAM_CHARS = 8


def winnow_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Rolling-hash document fingerprint (winnowing-style, mod-16 sampled):
    md5 every 8-char gram of the normalized text, keep grams whose hash
    starts with '0' (deterministic 1/16 sample of the rolling windows),
    and fingerprint the sorted sample. Robust to small edits away from the
    sampled grams — the shape of MOSS/winnowing.

    Grams are EXPLODED so the per-gram md5 + sample predicate run inside
    whole-stage codegen; the doc fingerprint reassembles in one hash
    aggregate (collect_list skips the unsampled NULLs, array_sort makes
    the order canonical). A HOF `filter(…, md5 …)` formulation evaluates
    interpreted and was ~10× slower."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    n_grams = F.greatest(F.length("_norm") - (WINNOW_GRAM_CHARS - 1), F.lit(1))
    # The gram array IS built by an interpreted transform, but that is the
    # right trade here: exploding bare positions instead would replicate
    # the full document string into every one of its ~n_chars rows
    # (measured 2.5× slower). The md5 + sample predicate — the actual hot
    # path — runs codegen'd after the explode.
    # content_fp is hashed BEFORE the explode (the exploded rows then carry
    # nothing doc-sized), and — the load-bearing shape — the 1/16 sample
    # predicate runs as a FILTER between the explode and the collect_list
    # aggregate, so the object hash-agg sees ~n_grams/16 rows instead of
    # every gram as a NULL entry (the agg, not the md5, dominated: 16×
    # fewer rows through ObjectHashAggregate). Docs whose sample is empty
    # drop out of the aggregate, so the per-doc frame left-joins the
    # sampled lists back (a doc-count-sized shuffle, not a gram-sized one)
    # and empty samples fingerprint as md5('') exactly like the oracle's
    # coalesce.
    # per_doc feeds both the gram branch and the final join probe, and is
    # deliberately NOT pinned: its values carry the full normalized text,
    # so a checkpoint would materialize corpus bytes (the pin rule's
    # value-width counter-case) to save two cheap map-only scans.
    per_doc = docs.select(
        F.col(id_col).alias("doc_id"),
        norm.alias("_norm"),
    ).select("doc_id", "_norm", F.md5("_norm").alias("content_fp"))
    grams = _fan_out(per_doc.select("doc_id", "_norm"), "doc_id",
                     probe=docs).select(
        "doc_id",
        F.explode(F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.substring(F.col("_norm"), i, F.lit(WINNOW_GRAM_CHARS)),
        )).alias("g"),
    ).filter(F.substring(F.md5("g"), 1, 1) == "0")
    sampled = grams.groupBy("doc_id").agg(
        F.array_sort(F.array_distinct(F.collect_list("g"))).alias("_sampled")
    )
    return (
        per_doc.drop("_norm")
        .join(sampled, "doc_id", "left")
        .select(
            "doc_id",
            "content_fp",
            F.md5(F.coalesce(F.array_join("_sampled", "|"), F.lit("")))
            .alias("winnow_fp"),
            F.coalesce(F.size("_sampled"), F.lit(0))
            .cast("bigint").alias("n_sampled_grams"),
        )
    )


def incremental_dedup(
    batch: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup: which docs in a NEW batch carry content
    the existing corpus has never seen.

    The shape that scales: the existing corpus contributes only its
    DISTINCT fingerprints (one hash-agg — at 100 TB this is the stored
    fingerprint index of the corpus, not a re-scan), the batch anti-joins
    against them, and batch-internal duplicates collapse with the same
    min-id keeper policy as exact_dedup_groups. Both the anti-join and
    the final agg shuffle on `fp` — one partitioning reused end-to-end.
    """
    seen = existing.select(fingerprint(text_col).alias("fp")).distinct()
    fresh = (
        batch.select(F.col(id_col).alias("doc_id"),
                     fingerprint(text_col).alias("fp"))
        .join(seen, "fp", "left_anti")
    )
    return fresh.groupBy("fp").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").alias("n_batch_dups"),
    )


SPAN_TOKENS = 10


def span_dedup(corpus: DataFrame, span_tokens: int = SPAN_TOKENS) -> DataFrame:
    """Corpus-wide exact SPAN deduplication (the C4 recipe, Raffel et al.
    2020 §2.2 — there three-sentence spans; here aligned `span_tokens`-
    token windows, since the corpus has no sentence structure): every
    occurrence of a repeated span except the globally FIRST one — ordered
    by (doc_id, span_idx), a total order — is removed, and each document
    is reassembled from its surviving spans. Boilerplate and quoted
    passages disappear from every document but one, while the documents
    themselves survive (contrast doc-level dedup, which can only keep or
    drop whole docs).

    Shape at 100 TB: explode to one row per span (narrow), ONE shuffle on
    the span key for the first-occurrence window (span groups are tiny —
    duplicate counts — so no skewed single task), one shuffle back on
    doc_id to reassemble. Returns (doc_id, n_spans, n_kept, clean_text).
    """
    from pyspark.sql import Window

    # NOT fanned out (round 12): unlike the shingle/simhash/winnow map
    # stages, span_dedup's heavy work sits BETWEEN two existing shuffles
    # (the span window and the doc reassembly aggregate already fan it
    # out); a gated _fan_out here measured consistently SLOWER at sf0.1
    # (0.87 -> 1.38 s same-session paired) — the added exchange buys
    # nothing the window's exchange doesn't already provide.
    toks = corpus.select(
        "doc_id", normalized_tokens("text").alias("toks")
    ).filter(F.size("toks") > 0)
    nspan = F.ceil(F.size("toks") / span_tokens).cast("int")
    spans = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nspan - 1),
                lambda i: F.array_join(
                    F.slice("toks", i * span_tokens + 1, span_tokens), " "
                ),
            )
        ).alias("span_idx", "span"),
    )
    w = Window.partitionBy("span").orderBy("doc_id", "span_idx")
    flagged = spans.withColumn("keep", F.row_number().over(w) == 1)
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("span_idx", "span"))
                    )
                ),
                lambda x: x["span"],
            ),
            " ",
        ).alias("clean_text"),
    )


def simjoin_prefix(
    docs: DataFrame,
    threshold: float = 0.5,
    n_shingle: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT set-similarity self-join: all pairs with Jaccard >= threshold
    over distinct n-word shingles, via PREFIX FILTERING (Chaudhuri/Ganti/
    Kaushik ICDE'06; Bayardo/Ma/Srikant WWW'07 "All-Pairs") — the
    zero-recall-loss counterpart to the MinHash-LSH family: LSH can miss
    true pairs between bands, this cannot, yet it still never goes
    all-pairs.

    Why it prunes: order every doc's shingles by GLOBAL RARITY (document
    frequency asc, shingle asc — a total order). If J(A,B) >= t, the two
    sets overlap so much that A's first |A| - ceil(t*|A|) + 1 rarest
    shingles must contain at least one shared shingle — so candidate
    pairs only need to agree on a PREFIX token, and prefixes are built
    from the rarest (least-blocking-prone) end of the vocabulary.

    Distributed shape: shingle DF counts are one hash-agg; the rarity
    ORDER is the (df, shingle) tuple itself — prefix filtering needs a
    consistent total order over the vocabulary, not consecutive global
    ranks, so no global row-number machinery runs at all; per-doc prefix
    positions are a doc-partitioned window over that tuple; candidates
    come from ONE prefix-token equi-join; verification joins each
    candidate pair to its two doc-level shingle ARRAYS and intersects
    them in the projection — pair-count rows move through the verify
    shuffle, not pair×token rows (measured 4.8 s → sub-second at
    sf0.1 for 125k candidates × ~50 tokens). Jaccard is a ratio of
    small ints — bit-exact across engines, no rounding games needed
    for the threshold.
    """
    # The shingle frame feeds four consumers (sizes, df counts, the
    # ranked prefix, and the verification arrays) — pin it once or the
    # posexplode+window+distinct pipeline re-executes per consumer
    # (measured 17 s -> ~5 s at sf0.1). persist(DISK_ONLY) on a cluster.
    sh = exploded_shingles(docs, n_shingle, id_col, text_col).localCheckpoint()
    sizes = sh.groupBy(F.col("doc_id").alias("sz_doc")).agg(
        F.count("*").alias("n_sh")
    )
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = sh.join(freq, "shingle")
    pos_w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    # The 1e-9 slack on every float-derived integer bound below makes
    # rounding one-sided: a last-ulp error can only WEAKEN pruning (keep
    # an extra candidate), never drop a true pair.
    prefix = (
        ranked.withColumn("_pos", F.row_number().over(pos_w))
        .join(sizes, F.col("doc_id") == F.col("sz_doc"))
        .filter(
            F.col("_pos")
            <= F.col("n_sh")
            - F.ceil(F.lit(threshold) * F.col("n_sh") - 1e-9) + 1
        )
        .select("doc_id", "shingle", "_pos", "n_sh")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # Length filter (t·|B| ≤ |A| ≤ |B|/t) and PPJoin positional filter:
    # overlap through this shared token is at most
    # min(|A|-posA, |B|-posB)+1, which must reach the required overlap
    # o = ceil(t/(1+t)·(|A|+|B|)). Both prune candidate ROWS; a true
    # pair always survives via its rarest shared prefix token (loosest
    # positional bound), so the distinct() pair set stays lossless —
    # on a low-rarity-skew corpus these cut candidates ~3.3× (measured).
    req = F.ceil(
        F.lit(threshold) / (1.0 + threshold)
        * (F.col("a.n_sh") + F.col("b.n_sh")) - 1e-9
    )
    ub = F.least(
        F.col("a.n_sh") - F.col("a._pos"),
        F.col("b.n_sh") - F.col("b._pos"),
    ) + 1
    cand = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               & (F.col("b.n_sh") * threshold <= F.col("a.n_sh") + 1e-9)
               & (F.col("a.n_sh") * threshold <= F.col("b.n_sh") + 1e-9)
               & (ub >= req))
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    # Verify on doc-level shingle ARRAYS: two id-keyed joins move one
    # array per pair side (the same bytes the exploded formulation moved
    # as pair×token rows, but without the 6M-row shuffle + re-agg), and
    # the intersection size is a map-side array_intersect in the final
    # projection. Shingles are distinct per doc, so set semantics hold.
    # The arrays carry xxhash64 LONGS, not raw shingle strings — same
    # hashed-transport rationale as ngram_jaccard_pairs (intersection
    # size is all the verification reads; ~3× narrower shuffle, and the
    # organic sf100 ENOSPC showed raw-string transport is what breaks
    # first at scale).
    arrs = sh.groupBy("doc_id").agg(
        F.collect_list(F.xxhash64("shingle")).alias("_sh_arr"),
        F.count("*").alias("n_sh"),
    )
    aa = arrs.select(F.col("doc_id").alias("da"),
                     F.col("_sh_arr").alias("_arr_a"),
                     F.col("n_sh").alias("na"))
    bb = arrs.select(F.col("doc_id").alias("db"),
                     F.col("_sh_arr").alias("_arr_b"),
                     F.col("n_sh").alias("nb"))
    jac = (
        cand.join(aa, "da").join(bb, "db")
        .withColumn("inter",
                    F.size(F.array_intersect("_arr_a", "_arr_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return jac.select("da", "db", F.round("jaccard", 5).alias("jaccard"))


def containment_pairs(
    docs: DataFrame,
    n_shingle: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Asymmetric near-dup detection: shingle-set CONTAINMENT
    C(A,B) = |A∩B|/|A| in both directions, for pairs anchored by a RARE
    shingle. Jaccard misses doc-inclusion (a short doc quoted inside a
    long one has tiny |∩|/|∪| but containment ≈ 1); this is the
    quote/subset signal a contamination or provenance pass needs.

    Candidates are NOT symmetric-LSH bands (a contained short doc rarely
    collides on minhash bands with its container) — they are pairs
    sharing a shingle with document frequency ≤ 2, the rare-n-gram
    anchoring used in benchmark-contamination scans. Pair fan-out is at
    most one pair per shingle — LINEAR in corpus size, never all-pairs.
    Verification then touches candidates only, with shingle sets
    travelling as xxhash64 longs (cardinalities preserved; the
    ngram_jaccard_pairs transport argument verbatim).
    Containment is one integer division — bit-exact across engines.
    """
    # Candidates from ONE aggregate keyed by shingle, no postings
    # self-join: a pair can only share a df ≤ 2 shingle when that
    # shingle's df is EXACTLY 2, and a shingle held by exactly two distinct
    # docs anchors exactly the pair (min_doc, max_doc). count(distinct),
    # min and max keep narrow codegen buffers, with no posting arrays that
    # a hot boilerplate shingle could blow up; at organic_sf1 the join
    # formulation's string-keyed aggregates and exchanges were the query's
    # dominant CPU. The pair distinct stays: one pair may share several
    # rare shingles.
    agg = (
        exploded_shingles(docs, n_shingle, id_col, text_col, distinct=False)
        .groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("_df"),
             F.min("doc_id").alias("_da"),
             F.max("doc_id").alias("_db"))
    )
    cand = (
        agg.filter(F.col("_df") == 2)
        .select(F.col("_da").alias("doc_a"), F.col("_db").alias("doc_b"))
        .distinct()
    )
    # Separate non-distinct build for the verification sets: collect_set
    # dedups by value, so re-running the map-only gram stream is cheaper
    # than sharing a distinct (doc, shingle) exchange (round 11).
    sets = (
        exploded_shingles(docs, n_shingle, id_col, text_col,
                          distinct=False)
        .select("doc_id", F.xxhash64("shingle").alias("h"))
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("hs"))
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            inter.cast("long").alias("n_common"),
            (inter.cast("double") / F.size("sh_a")).alias("cont_a_in_b"),
            (inter.cast("double") / F.size("sh_b")).alias("cont_b_in_a"),
        )
        .filter(F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold)
    )
