"""Deduplication operators for large-scale training-data pipelines.

All variants are expressed with built-in JVM-side expressions (md5,
array/lambda functions) — no Python UDFs — so they whole-stage-codegen and
scale to shuffle-bound, not Python-bound, throughput. md5 is used as the
hash everywhere because it is bit-identical across engines (the DuckDB
oracle computes the same signatures).

Scale notes (100 TB): exact dedup is a single hash aggregation on a
64-128 bit key (shuffle on the digest, not the text). MinHash-LSH shuffles
only (band_key, doc_id) pairs — bands-per-doc × rows — and joins within
buckets, never all-pairs. SimHash groups by the 16-bit signature (or a
prefix) so candidate generation is again a hash shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812

from ocr_cezam_spark.functions.numeric import round_he


def _digests(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content digest; keeper = min id. The one
    definition of an exact duplicate: the dedup-first compositions
    (``near_dup_pairs_dedup_first``, ``simhash_pairs_dedup_first``,
    ``cluster_members``, ``pipeline.clean_corpus``) all collapse through
    this aggregation and ``keepers``."""
    return (
        _digests(docs, id_col, text_col)
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keeper"),
            F.count("*").alias("n_copies"),
        )
    )


def keepers(docs: DataFrame, groups: DataFrame,
            id_col: str = "doc_id") -> DataFrame:
    """``docs`` restricted to the keepers of ``exact_dedup`` ``groups``
    (one min-id representative per digest) — a semi-join, so the rows
    keep every input column."""
    return docs.join(
        groups.select(F.col("keeper").alias(id_col)), id_col, "left_semi"
    )


def latest_crawl_dedup(pages: DataFrame, url_col: str = "url",
                       ts_col: str = "warc_ts",
                       id_col: str = "doc_id") -> DataFrame:
    """Recrawl dedup over a Common-Crawl-style page table: a url fetched
    in several crawls keeps only its NEWEST snapshot (max ``ts_col``,
    ties broken by max id — deterministic last-writer-wins).

    Returns (url, id, ts, n_crawls); callers needing the winning
    snapshot's payload semi-join back on the id — keeping the text out
    of this aggregation means the shuffle carries (url, ts, id) triples,
    not page bodies.

    Scale shape: ONE max-of-struct hash aggregation on the url key with
    map-side partial aggregation — a url recrawled in every monthly
    crawl collapses to one candidate per map partition before the
    shuffle. The row_number()-over-url window alternative funnels every
    snapshot of a hot url through a single sorting task and is strictly
    worse; rejected. ``ts_col`` only needs an orderable type (timestamp
    or epoch number)."""
    best = F.max(F.struct(F.col(ts_col), F.col(id_col)))
    return (
        pages.groupBy(url_col)
        .agg(best.alias("best"), F.count("*").alias("n_crawls"))
        .select(
            url_col,
            F.col(f"best.{id_col}").alias(id_col),
            F.col(f"best.{ts_col}").alias(ts_col),
            "n_crawls",
        )
    )


def url_version_history(pages: DataFrame, url_col: str = "url",
                        ts_col: str = "warc_ts",
                        digest_col: str = "digest") -> DataFrame:
    """SCD-2 compaction of a crawl snapshot store: consecutive fetches
    of a url that returned the SAME content digest collapse into one
    version row with a validity interval — the storage schema a
    10^12-row multi-epoch crawl archive actually wants (Common Crawl
    keeps every fetch; queries want "what was this page DURING June").
    The graded companion ops: latest_crawl_dedup answers "newest only",
    crawl_churn/crawl_text_churn answer "what changed between two
    snapshots"; this keeps the full change timeline at
    one-row-per-VERSION instead of one-row-per-FETCH.

    A version starts at the first fetch whose digest differs from the
    previous fetch's (lag over the per-url timeline) and runs until the
    next version's start (valid_to NULL for the current version —
    standard SCD-2 open interval). Re-fetches inside a version are
    counted (n_fetches), so refresh effort stays visible after
    compaction.

    Scale shape: ONE window partitioned by url (bounded by that url's
    fetch count — crawl epochs, never corpus size) used twice (lag +
    running version-id sum), one aggregation by (url, version). No
    corpus-wide window, no joins.

    Returns (url, version, digest, valid_from, valid_to, n_fetches)
    ordered by url, version.
    """
    w = Window.partitionBy(url_col).orderBy(ts_col)
    prev = F.lag(digest_col).over(w)
    is_new = (prev.isNull() | (F.col(digest_col) != prev)).cast("long")
    versioned = pages.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("ts"),
        F.col(digest_col).alias("digest"),
        F.sum(is_new).over(
            Window.partitionBy(url_col).orderBy(ts_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("version"),
    )
    agg = versioned.groupBy("url", "version").agg(
        F.min("ts").alias("valid_from"),
        F.max(F.struct("ts", "digest"))["digest"].alias("digest"),
        F.count("*").alias("n_fetches"),
    )
    nxt = Window.partitionBy("url").orderBy("version")
    return (
        agg.select(
            "url", "version", "digest", "valid_from",
            F.lead("valid_from").over(nxt).alias("valid_to"),
            F.col("n_fetches").cast("long").alias("n_fetches"),
        )
        .orderBy("url", "version")
    )



def _words(text_col: str) -> F.Column:
    return F.split(F.col(text_col), " ")


def shingles(text_col: str, n: int = 3) -> F.Column:
    """Word n-gram shingles: ['a b c', 'b c d', ...] (>=1 even for short
    docs). Built with sequence+slice — JVM-side, no UDF."""
    words = _words(text_col)
    m = F.greatest(F.size(words) - (n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )


# --- MinHash parameters (production-grade: k=64 permutations, 16 bands of
# 4 rows — s-curve threshold ~ (1/16)^(1/4) ~ 0.5). The k "permutations"
# are affine universal hashes h_i(x) = (a_i*x + b_i) mod P over a single
# md5 per shingle (x = first 8 hex chars mod P), so the per-shingle hash
# cost stays ONE digest regardless of k; the k minimizations are cheap
# codegen'd integer arithmetic with map-side partial aggregation.
# P = 2^31-1 keeps a_i*x < 2^62: no bigint overflow in Spark ANSI mode or
# DuckDB. Coefficients are fixed-seed so the DuckDB oracle twin (generated
# from the same MINHASH_COEFFS) is bit-identical.
MINHASH_P = 2_147_483_647
MINHASH_K = 64
MINHASH_BANDS = 16


def _make_coeffs(k: int, seed: int = 20_240_816) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(k)
    ]


MINHASH_COEFFS = _make_coeffs(MINHASH_K)


def minhash_signature(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = MINHASH_K) -> DataFrame:
    """k-permutation MinHash over 3-word shingles.

    Shape: explode(shingles) -> md5 -> x = hex32 mod P ->
    groupBy(id).agg(min((a_i*x+b_i) mod P) for i in 0..k) -> sig array.
    One shuffle, k longs per doc per map partition (partial agg).

    Callers: ``minhash_lsh_pairs`` (bands + both verify-join sides, off
    one lazy checkpoint), ``lsh_threshold_curve``, both sides of
    ``incremental_near_dup``, and the streaming corpus band table
    (``streaming.neardup_stream.corpus_band_table``). The shuffle-free
    variant, ``minhash_signature_rowwise``, was measured SLOWER for the
    batch pair generator: this groupBy's exchange is a ReusedExchange for
    all three consumers, whereas the narrow form recomputes the
    per-shingle md5 pass per consumer. Keep the aggregate for batch.
    Returns (id, sig: array<long> length k)."""
    exploded = docs.select(
        F.col(id_col), F.explode(shingles(text_col)).alias("sh")
    )
    x = (
        F.conv(F.substring(F.md5("sh"), 1, 8), 16, 10).cast("long")
        % F.lit(MINHASH_P)
    )
    hashed = exploded.select(F.col(id_col), x.alias("x"))
    mins = hashed.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MINHASH_P)).alias(
                f"mh_{i}"
            )
            for i, (a, b) in enumerate(MINHASH_COEFFS[:k])
        ]
    )
    return mins.select(
        F.col(id_col), F.array(*[f"mh_{i}" for i in range(k)]).alias("sig")
    )


def sig_agreement(left: str, right: str, k: int) -> F.Column:
    """MinHash Jaccard estimate: the fraction of the k positions at which
    two signature columns hold equal minhashes. The one estimate behind
    ``minhash_lsh_pairs``, ``incremental_near_dup`` and the streaming
    admission, so their sim values stay directly comparable."""
    return F.size(
        F.filter(F.zip_with(left, right, lambda p, q: p == q), lambda v: v)
    ) / float(k)


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = MINHASH_K,
                      bands: int = MINHASH_BANDS,
                      max_bucket: int | None = None) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    The signature splits into `bands` bands of k/bands rows; docs sharing
    any band key become candidates. Candidate generation shuffles ONLY
    (band_idx, band_key, id) long-format rows — one self-join keyed on the
    band, never all-pairs, and never carrying the k-wide signature through
    the band join. Signatures are joined back onto the (distinct) candidate
    pairs to compute sim_est = fraction of matching minhashes.

    `max_bucket` bounds the quadratic band-bucket blowup on dup-heavy
    corpora: buckets larger than the cap are dropped from candidate
    generation (they are overwhelmingly exact-duplicate clusters, which
    belong to exact_dedup / near_dup_pairs_dedup_first — composing
    exact-dedup FIRST is the preferred fix; the cap is the backstop).
    The size aggregation groups on the same (band_idx, band_key) as the
    pair join, so AQE reuses the exchange rather than adding a shuffle."""
    # The signature frame feeds THREE consumers (band explode + both
    # sides of the verify join). The groupBy exchange is a ReusedExchange
    # across them, but each consumer still re-embeds (and re-analyzes)
    # the per-shingle md5 subtree; a lazy localCheckpoint computes the
    # (id, 64-long) table once — at production this is exactly the
    # signature table a dedup run writes before banding.
    sig = minhash_signature(docs, id_col, text_col, k).localCheckpoint(
        eager=False
    )
    # the projection drops doc_sig: only ids cross the band join
    banded = banded_sigs(sig, "doc", id_col=id_col, k=k,
                         bands=bands).select("doc_id", "band_idx", "band_key")
    if max_bucket is not None:
        small = (
            banded.groupBy("band_idx", "band_key")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_bucket)
            .select("band_idx", "band_key")
        )
        banded = banded.join(small, ["band_idx", "band_key"])
    left = banded.select(F.col("doc_id").alias("a"), "band_idx", "band_key")
    right = banded.select(F.col("doc_id").alias("b"), "band_idx", "band_key")
    cand = (
        left.join(right, ["band_idx", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sa = sig.select(F.col(id_col).alias("a"), F.col("sig").alias("sa"))
    sb = sig.select(F.col(id_col).alias("b"), F.col("sig").alias("sb"))
    return cand.join(sa, "a").join(sb, "b").select(
        "a", "b", sig_agreement("sa", "sb", k).alias("sim_est")
    )


def lsh_threshold_curve(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n_buckets: int = 10,
                        k: int = MINHASH_K, bands: int = MINHASH_BANDS,
                        max_df: int = 50,
                        pair_mod: int = 1,
                        sample_mod: int = 1) -> DataFrame:
    """Empirical LSH S-curve vs the analytic one — the calibration that
    justifies a (k, bands) choice BEFORE a 100 TB dedup run (Leskovec,
    Rajaraman & Ullman, Mining of Massive Datasets section 3.4: a pair
    with Jaccard s shares at least one of b bands of r rows with
    probability 1 - (1 - s^r)^b). Per Jaccard decile this reports how
    many evaluation pairs the FIXED production signatures actually
    capture next to that analytic rate, so threshold drift (shingle
    skew, short docs, coefficient luck) is measured, not assumed.

    Evaluation-pair sample: pairs sharing at least one shingle with
    document frequency <= max_df (the stop-shingle cap bounds the
    quadratic co-shingle join exactly as in containment_pairs; pairs
    whose overlap is ONLY corpus-hot boilerplate shingles are excluded
    from the sample, stated bias). Exact Jaccard is computed over the
    FULL distinct-shingle sets of the sampled pairs. At production this
    runs on a deterministic md5 document sample, not the corpus — the
    curve needs thousands of pairs, not 10^12.

    Capture is decided from the SAME minhash_signature the production
    pair generator bands (any of the b bands fully equal), so the
    number reported is the deployed pipeline's behavior, not a
    re-randomized simulation.

    Theory values are evaluated ONCE in Python per bucket midpoint and
    emitted as literals into BOTH engines — pow() is not guaranteed
    correctly rounded across libm implementations, so computing it
    in-plan could flip a 4 dp rounding cross-engine.

    Output: (bucket, s_lo, s_hi, n_pairs, n_captured, capture_rate
    4 dp, theory_rate 4 dp) ordered by bucket; empty buckets absent.

    Scale shape: one distinct-shingle explode + df-capped self-join
    (the containment_pairs bound), one k-wide signature aggregation
    (shared plan with the production generator), one in-row band
    comparison, one bucket aggregation. No windows, no corpus-wide
    all-pairs.
    """
    from functools import reduce as _reduce

    r = k // bands
    if sample_mod > 1:
        # deterministic md5 DOCUMENT sample — cuts every downstream
        # stage (shingle join, signatures, pair set); the production
        # sampling knob the docstring promises
        hd = F.conv(F.substring(F.md5(F.concat(
            F.lit("curve:"), F.col(id_col).cast("string"))), 1, 8),
            16, 10).cast("long")
        docs = docs.filter(hd % sample_mod == 0)
    did = F.col(id_col)
    # the distinct-shingle table feeds sizes, the df cap, the capped
    # join and the member intersection — compute it once (guide 3.3)
    sh = docs.select(
        did.alias("id"),
        F.explode(F.array_distinct(shingles(text_col))).alias("sh"),
    ).localCheckpoint(eager=False)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    rare = (
        sh.groupBy("sh").agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("sh")
    )
    capped = sh.join(rare, "sh")
    pairs = (
        capped.select(F.col("id").alias("a"), "sh")
        .join(capped.select(F.col("id").alias("b"), "sh"), "sh")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    if pair_mod > 1:
        # deterministic md5 pair sample: the curve needs thousands of
        # pairs per bucket, not all of them — this is the knob that
        # keeps the k-wide signature join off the full pair set
        h = F.conv(F.substring(F.md5(F.concat(
            F.lit("pair:"), F.col("a").cast("string"), F.lit("|"),
            F.col("b").cast("string"))), 1, 8), 16, 10).cast("long")
        pairs = pairs.filter(h % pair_mod == 0)
    # evaluation pairs feed the member set, the intersection join and
    # the jaccard attach — compute the (sampled) pair set once
    pairs = pairs.localCheckpoint(eager=False)
    # exact jaccard over FULL shingle sets of the sampled pairs — the
    # intersection self-join runs over PAIR MEMBERS only (semi-join
    # first), so its cost is bounded by the evaluation sample, never by
    # corpus-wide hot-shingle co-occurrence
    members = (
        pairs.select(F.col("a").alias("id"))
        .union(pairs.select(F.col("b").alias("id")))
        .distinct()
    )
    sh_m = sh.join(members, "id")
    inter = (
        sh_m.select(F.col("id").alias("a"), "sh")
        .join(sh_m.select(F.col("id").alias("b"), "sh"), "sh")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    jac = (
        pairs.join(inter, ["a", "b"])
        .join(sizes.select(F.col("id").alias("a"),
                           F.col("n_sh").alias("na")), "a")
        .join(sizes.select(F.col("id").alias("b"),
                           F.col("n_sh").alias("nb")), "b")
        .select(
            "a", "b",
            (F.col("inter")
             / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
             ).alias("s"),
        )
    )
    sig = minhash_signature(docs, id_col, text_col, k).localCheckpoint(
        eager=False
    )
    sa = sig.select(F.col(id_col).alias("a"), F.col("sig").alias("sa"))
    sb = sig.select(F.col(id_col).alias("b"), F.col("sig").alias("sb"))
    band_eq = [
        _reduce(
            lambda x, y: x & y,
            [
                F.element_at("sa", bi * r + j + 1)
                == F.element_at("sb", bi * r + j + 1)
                for j in range(r)
            ],
        )
        for bi in range(bands)
    ]
    captured = _reduce(lambda x, y: x | y, band_eq)
    bucket = F.least(F.floor(F.col("s") * n_buckets),
                     F.lit(n_buckets - 1)).cast("long")
    theory = [
        _round4(1.0 - (1.0 - ((i + 0.5) / n_buckets) ** r) ** bands)
        for i in range(n_buckets)
    ]
    edges_lo = [_round4(i / n_buckets) for i in range(n_buckets)]
    edges_hi = [_round4((i + 1) / n_buckets) for i in range(n_buckets)]
    lit_arr = lambda vals: F.array(*[F.lit(v) for v in vals])  # noqa: E731
    return (
        jac.join(sa, "a").join(sb, "b")
        .select(bucket.alias("bucket"), captured.cast("long").alias("c"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_pairs"),
             F.sum("c").cast("long").alias("n_captured"))
        .select(
            "bucket",
            F.element_at(lit_arr(edges_lo), F.col("bucket").cast("int") + 1)
            .alias("s_lo"),
            F.element_at(lit_arr(edges_hi), F.col("bucket").cast("int") + 1)
            .alias("s_hi"),
            "n_pairs", "n_captured",
            round_he(F.col("n_captured").cast("double")
                     / F.col("n_pairs").cast("double"), 4)
            .alias("capture_rate"),
            F.element_at(lit_arr(theory), F.col("bucket").cast("int") + 1)
            .alias("theory_rate"),
        )
        .orderBy("bucket")
    )


def _round4(x: float) -> float:
    """The engine-identical floor(x*1e4+0.5)/1e4 idiom, in Python, for
    values emitted as literals to both engines."""
    import math

    return math.floor(x * 1e4 + 0.5) / 1e4



def near_dup_pairs_dedup_first(docs: DataFrame, id_col: str = "doc_id",
                               text_col: str = "text", k: int = MINHASH_K,
                               bands: int = MINHASH_BANDS) -> DataFrame:
    """Exact-dedup-first near-dup composition — the 100 TB-safe shape.

    A crawl corpus where one boilerplate page has 10^7 exact copies would
    put all 10^7 ids in the same LSH band buckets: a 10^14-pair join. This
    composition collapses exact-duplicate groups (one hash aggregation on
    the md5 digest) to their min-id representative FIRST, runs LSH banding
    on representatives only, and reports pairs at representative level
    with each side's exact-copy multiplicity. Results are deliberately NOT
    fanned back out to member-level pairs — that would rebuild the same
    quadratic blowup in the output; consumers needing members join
    exact_dedup's (digest -> keeper) mapping.

    Returns (a, b, sim_est, n_copies_a, n_copies_b), a/b representative
    ids with a < b."""
    return _dedup_first(
        docs, id_col, text_col, "sim_est",
        lambda reps: minhash_lsh_pairs(reps, id_col, text_col, k, bands),
    )


def _dedup_first(docs: DataFrame, id_col: str, text_col: str, metric: str,
                 pair_gen) -> DataFrame:
    """The dedup-first body shared by the MinHash and SimHash pair
    generators: ``pair_gen`` runs on exact-dedup keepers only, and each
    reported (a, b, metric) pair gains both sides' exact-copy counts."""
    # the digest-group table feeds the representative semi-join AND both
    # multiplicity attaches — one lazy checkpoint, three references
    groups = exact_dedup(docs, id_col, text_col).localCheckpoint(eager=False)
    pairs = pair_gen(keepers(docs, groups, id_col))
    na = groups.select(F.col("keeper").alias("a"),
                       F.col("n_copies").alias("n_copies_a"))
    nb = groups.select(F.col("keeper").alias("b"),
                       F.col("n_copies").alias("n_copies_b"))
    return pairs.join(na, "a").join(nb, "b").select(
        "a", "b", metric, "n_copies_a", "n_copies_b"
    )


# Bloom hash family: multiply-add over the uint64 wrap of xxhash64, fixed
# seeds so build and probe (and any re-run) agree bit-for-bit. Odd
# multipliers make the map a bijection on Z/2^64 before the mod-m fold.
_BLOOM_SEED = 20_240_816


def _bloom_coeffs(k: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(_BLOOM_SEED)
    return [
        (rng.randrange(1, 1 << 63) * 2 + 1, rng.randrange(0, 1 << 64))
        for _ in range(k)
    ]


def _build_bloom(hashes: DataFrame, num_bits: int, num_hashes: int) -> bytes:
    """Distributed Bloom build: every partition folds its xxhash64 values
    into a local num_bits bitmap inside one Arrow-batched pass
    (mapInPandas + numpy, no per-row Python); the per-partition bitmaps —
    num_bits/8 bytes each, independent of row count — are OR-combined on
    the driver via toLocalIterator, so driver state is TWO bitmaps (the
    accumulator and the in-flight partition result), never
    partitions x num_bits (a .collect() of 200 partitions at the
    10^9-item design point — ~1.2 GB per bitmap at 1% fpp — would be
    hundreds of GB). Corpus rows never leave the executors."""
    import numpy as np

    coeffs = _bloom_coeffs(num_hashes)
    n_bytes = (num_bits + 7) // 8

    def fold(batches):
        import pandas as pd

        bitmap = np.zeros(n_bytes, dtype=np.uint8)
        seen = False
        for pdf in batches:
            seen = True
            v = pdf["h"].to_numpy(dtype=np.int64).view(np.uint64)
            for a, b in coeffs:
                pos = (v * np.uint64(a) + np.uint64(b)) % np.uint64(num_bits)
                np.bitwise_or.at(
                    bitmap,
                    (pos >> np.uint64(3)).astype(np.int64),
                    (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)),
                )
        if seen:
            yield pd.DataFrame({"bm": [bitmap.tobytes()]})

    combined = np.zeros(n_bytes, dtype=np.uint8)
    for r in hashes.mapInPandas(fold, "bm binary").toLocalIterator():
        combined |= np.frombuffer(r["bm"], dtype=np.uint8)
    return combined.tobytes()


def incremental_dedup(new_docs: DataFrame, corpus: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      expected_items: int = 1_000_000,
                      fpp: float = 0.01) -> DataFrame:
    """Dedup a new crawl increment AGAINST an existing corpus: keep only
    new docs whose content digest does not already appear in the corpus.

    Scale shape (the reason this is not a plain anti-join): the corpus is
    orders of magnitude larger than the increment, so a direct anti-join
    shuffles corpus-scale data every increment. Instead the corpus
    digests fold into a Bloom filter built distributedly (_build_bloom —
    ~1.2 GB for 10^9 items at 1% fpp, i.e. 9.6 bits/item; size the
    expected_items/fpp pair to the executor memory you can broadcast)
    that is broadcast and probed on
    the increment in one Arrow-vectorized pass: true negatives (the
    overwhelming majority of genuinely-new docs) are decided WITHOUT any
    join. Only the might-contain survivors — actual dups plus the fpp
    sliver — reach exact verification, a left-anti join whose left side
    is already shrunk ~100x. False positives are corrected there, so the
    result is bit-identical to the plain anti-join (the oracle computes
    exactly that); the bloom stage is pure pruning.

    Returns the surviving new docs (id, digest)."""
    corpus_d = corpus.select(F.md5(F.col(text_col)).alias("digest"))
    return incremental_dedup_against_index(
        new_docs, corpus_d, id_col, text_col, "digest",
        expected_items, fpp,
    )


def incremental_dedup_against_index(new_docs: DataFrame, index: DataFrame,
                                    id_col: str = "doc_id",
                                    text_col: str = "text",
                                    digest_col: str = "digest",
                                    expected_items: int = 1_000_000,
                                    fpp: float = 0.01) -> DataFrame:
    """incremental_dedup against a PRE-HASHED digest index — the standing
    (url, digest) table the batch job writes (`job.py` digests output), so
    successive increments never re-hash prior text. Same bloom-prune +
    exact-verify shape; result equals the plain anti-join on digests."""
    import math

    # optimal bit count for the target false-positive rate:
    # m = -n * ln(p) / ln(2)^2 ; k = (m/n) * ln(2)
    num_bits = max(64, int(-expected_items * math.log(fpp) / (math.log(2) ** 2)))
    num_hashes = max(1, round(num_bits / expected_items * math.log(2)))
    coeffs = _bloom_coeffs(num_hashes)

    new_d = new_docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("digest")
    )
    corpus_d = index.select(F.col(digest_col).alias("digest"))
    bloom_bytes = _build_bloom(
        corpus_d.select(F.xxhash64("digest").alias("h")), num_bits, num_hashes
    )
    bc = new_docs.sparkSession.sparkContext.broadcast(bloom_bytes)

    def probe(batches):
        import numpy as np
        import pandas as pd

        bitmap = np.frombuffer(bc.value, dtype=np.uint8)
        for pdf in batches:
            v = pdf["h"].to_numpy(dtype=np.int64).view(np.uint64)
            hit = np.ones(len(v), dtype=bool)
            for a, b in coeffs:
                pos = (v * np.uint64(a) + np.uint64(b)) % np.uint64(num_bits)
                bits = bitmap[(pos >> np.uint64(3)).astype(np.int64)]
                hit &= (bits >> (pos & np.uint64(7)).astype(np.uint8)) & 1 != 0
            out = pdf[[c for c in pdf.columns if c != "h"]].copy()
            out["maybe_dup"] = hit
            yield out

    # Output schema follows the actual id column type — hardcoding 'long'
    # would break the natural url-keyed call against the job's index.
    id_type = new_docs.schema[id_col].dataType.simpleString()
    with_h = new_d.withColumn("h", F.xxhash64("digest"))
    flagged = with_h.mapInPandas(
        probe, f"{id_col} {id_type}, digest string, maybe_dup boolean"
    )
    # The clean branch and the suspect anti-join both consume `flagged`;
    # repartitioning on the digest ends the probe subtree in an exchange
    # the anti-join needs anyway, so AQE's ReusedExchange runs the
    # md5+xxhash64+bloom-probe pass ONCE (the same shared-exchange pattern
    # the minhash plan test asserts) instead of once per branch. The
    # broadcast handle is left to GC with the returned plan — destroying
    # it here would break the not-yet-executed DataFrame.
    flagged = flagged.repartition(F.col("digest"))
    clean = flagged.filter(~F.col("maybe_dup")).select(id_col, "digest")
    suspects = flagged.filter(F.col("maybe_dup")).select(id_col, "digest")
    verified_new = suspects.join(corpus_d, "digest", "left_anti").select(
        id_col, "digest"
    )
    return clean.unionByName(verified_new)


SIMHASH_CHUNKS = 4  # 4 x 16-bit band keys -> pigeonhole: hamming<=3 pairs
#                     are guaranteed to share at least one exact chunk


def simhash64(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """64-bit SimHash as four 16-bit chunks (c0..c3).

    Bit j = majority vote over words of bit j of md5(word) (first 16 hex
    digits = 64 bits, MSB-first within each digit). One md5 + four
    hex-to-int convs per WORD ROW (explode), then the 64 bit-votes are
    conditional sums in ONE hash aggregation on the doc id — every
    expression codegen'd, with map-side partial aggregation so the
    exchange carries one 65-counter row per doc per map partition.

    (The previous in-row form — an int-array column scanned by 64
    higher-order filter() calls — kept the data in place but ran every
    vote through the interpreted expression walker, since higher-order
    functions are CodegenFallback; measured ~2x slower end-to-end than
    this explode+aggregate shape at sf0.1. Guide section 4.1/1.2: prefer
    codegen'd built-ins on the per-row hot path.)

    Bit-identical to the DuckDB oracle's per-digit construction: the
    majority test count*2 > n_words compares exact integers either way.
    explode_outer keeps null-text docs as a single null-word row, whose
    votes are all zero — the same all-zero chunks the in-row form
    emitted for null text.

    Precondition: ``id_col`` is unique. The votes aggregate on the id, so
    rows sharing an id are merged into ONE signature row voted over all
    of their words; no error is raised."""
    words = _words(text_col)
    exploded = docs.select(F.col(id_col), F.explode_outer(words).alias("_w"))
    d = F.md5("_w")
    per_word = exploded.select(
        F.col(id_col),
        *[
            F.conv(F.substring(d, 1 + 4 * t, 4), 16, 10).cast("int")
            .alias(f"_w{t}")
            for t in range(SIMHASH_CHUNKS)
        ],
    )
    votes = [
        F.sum(
            (F.col(f"_w{t}").bitwiseAND(F.lit(1 << (15 - j))) != 0)
            .cast("int")
        ).alias(f"_b{t}_{j}")
        for t in range(SIMHASH_CHUNKS)
        for j in range(16)
    ]
    agg = per_word.groupBy(id_col).agg(F.count("*").alias("_n"), *votes)
    chunk_cols = []
    for t in range(SIMHASH_CHUNKS):
        bits = [
            F.when(F.col(f"_b{t}_{j}") * 2 > F.col("_n"),
                   F.lit(1 << (15 - j))).otherwise(F.lit(0))
            for j in range(16)
        ]
        chunk_cols.append(sum(bits).cast("int").alias(f"c{t}"))
    return agg.select(F.col(id_col), *chunk_cols)


def simhash_buckets(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-duplicate candidate buckets: group by the full 64-bit
    signature (all four chunks). Near-dup recall comes from
    simhash_hamming_pairs, not from this exact grouping."""
    return (
        simhash64(docs, id_col, text_col)
        .groupBy("c0", "c1", "c2", "c3")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("min_doc"))
        .filter(F.col("n_docs") > 1)
    )


def simhash_hamming_pairs(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          max_hamming: int = 3,
                          max_bucket: int | None = None) -> DataFrame:
    """Near-duplicate pairs within Hamming distance <= 3 of the 64-bit
    SimHash, via chunk-band LSH (the pigeonhole trick): any pair within
    distance 3 matches exactly on >= 1 of the 4 16-bit chunks, so
    candidates come from a hash self-join on (chunk_idx, chunk_value) —
    bucket-bounded, never all-pairs — and the exact Hamming distance
    (bit_count of xor per chunk) filters the survivors.

    ``max_bucket`` mirrors ``minhash_lsh_pairs``'s dup-heavy guard:
    (chunk_idx, chunk_val) buckets larger than the cap are dropped from
    candidate generation — on a crawl corpus one boilerplate page with 10^7
    exact copies puts all copies in the same four chunk buckets (a
    10^14-pair join); such clusters belong to exact dedup, not LSH. The
    bucket-size aggregation groups on the same key as the pair join, so
    AQE reuses the exchange."""
    sig = simhash64(docs, id_col, text_col)
    # carry the 4 chunk ints (tiny) through the band join so the signature
    # is never recomputed or re-joined; multi-chunk matches dedup at the end
    banded = sig.select(
        F.col(id_col),
        "c0", "c1", "c2", "c3",
        F.posexplode(F.array("c0", "c1", "c2", "c3")).alias("chunk_idx", "chunk_val"),
    )
    if max_bucket is not None:
        small = (
            banded.groupBy("chunk_idx", "chunk_val")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_bucket)
            .select("chunk_idx", "chunk_val")
        )
        banded = banded.join(small, ["chunk_idx", "chunk_val"])
    left = banded.select(
        F.col(id_col).alias("a"),
        *[F.col(f"c{t}").alias(f"a{t}") for t in range(4)],
        "chunk_idx", "chunk_val",
    )
    right = banded.select(
        F.col(id_col).alias("b"),
        *[F.col(f"c{t}").alias(f"b{t}") for t in range(4)],
        "chunk_idx", "chunk_val",
    )
    hamming = sum(
        F.bit_count(F.col(f"a{t}").bitwiseXOR(F.col(f"b{t}")).cast("long"))
        for t in range(4)
    ).cast("int")
    return (
        left.join(right, ["chunk_idx", "chunk_val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_pairs_dedup_first(docs: DataFrame, id_col: str = "doc_id",
                              text_col: str = "text",
                              max_hamming: int = 3) -> DataFrame:
    """Exact-dedup-first SimHash composition — the same 100 TB-safe shape
    as ``near_dup_pairs_dedup_first`` for the Hamming metric: collapse
    exact-duplicate groups to their min-id representative (one digest
    aggregation), run the chunk-band Hamming join on representatives
    only, report representative pairs with each side's exact-copy
    multiplicity. A 10^7-copy boilerplate page contributes ONE node to
    the chunk buckets instead of a 10^14-pair join.

    Returns (a, b, hamming, n_copies_a, n_copies_b), a < b."""
    return _dedup_first(
        docs, id_col, text_col, "hamming",
        lambda reps: simhash_hamming_pairs(reps, id_col, text_col,
                                           max_hamming),
    )


def connected_components(pairs: DataFrame, max_iter: int = 64) -> DataFrame:
    """Dedup clusters from candidate pairs: (node, component) where
    component = min doc_id reachable through the pair graph.

    Iterative min-label propagation with alternating-direction joins —
    each half-step is one shuffle on node id and the loop runs UNTIL
    FIXPOINT (changed-count 0). Half-steps needed = graph diameter D
    (near-dup clusters are tiny, so 2-3 in practice), plus one to see no
    change. Budget: ``max_iter // 2 + 1`` rounds of two half-steps, so
    every graph with D <= max_iter - 1 converges (the same graphs a
    one-half-step-per-round loop of ``max_iter`` rounds accepts). Past
    the budget the safety valve *raises* rather than silently returning
    unconverged labels. localCheckpoint truncates the growing plan each
    round (the classic iterative-algorithm lineage blowup).
    """
    from pyspark.sql import functions as F  # noqa: N812

    edges = (
        pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .unionByName(pairs.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .distinct()
        # every iteration joins against edges: without this cut the
        # candidate-pair chain (minhash + LSH upstream) is re-executed
        # AND re-analyzed once per iteration — checkpointing it makes
        # each round one tiny join over a leaf (measured ~2x on
        # dedup_clusters at sf0.1)
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("x").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )

    def step(lbl: DataFrame) -> DataFrame:
        """One min-label half-round: component := min(component, min of
        neighbors' components). Labels are monotone non-increasing."""
        nbr = (
            edges.join(lbl.select("node", "component"),
                       edges.y == F.col("node"))
            .groupBy("x")
            .agg(F.min("component").alias("nbr_component"))
        )
        return lbl.join(nbr, lbl.node == nbr.x, "left").select(
            lbl["node"],
            F.least(
                lbl["component"],
                F.coalesce("nbr_component", lbl["component"]),
            ).alias("component"),
            *([lbl["orig"]] if "orig" in lbl.columns else []),
        )

    converged = False
    # TWO propagation steps per materialized round: each round costs one
    # eager checkpoint job plus one scalar collect regardless of how many
    # joins it chains, and at fixture scale that per-round overhead — not
    # the joins — dominated the fixpoint. Labels only ever decrease, so
    # comparing a round's END against its START ("orig") detects a change
    # in either half-step, and running one half-step past convergence is
    # a no-op on the result. Same fixpoint, half the driver rounds.
    rounds = max_iter // 2 + 1
    for _ in range(rounds):
        start = labels.withColumn("orig", F.col("component"))
        stepped = step(step(start))
        new_labels = stepped.select(
            "node", "component",
            (F.col("component") < F.col("orig")).cast("int").alias("changed"),
        ).localCheckpoint(eager=True)
        n_changed = new_labels.agg(F.sum("changed")).collect()[0][0] or 0
        labels = new_labels.drop("changed")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {rounds} rounds of "
            f"two half-steps (max_iter={max_iter} covers pair-graph "
            f"diameter <= {max_iter - 1})"
        )
    return labels


def dedup_clusters(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """End-to-end near-dup clustering, dup-heavy-safe by default:
    exact-dedup collapse -> MinHash-LSH on representatives -> connected
    components -> members re-attached via the digest->keeper mapping ->
    (component, n_members, max_member).

    Collapsing exact-duplicate groups to their min-id representative FIRST
    bounds the band-bucket blowup the same way ``near_dup_pairs_dedup_first``
    does: a corpus where one boilerplate page has 10^7 exact copies becomes
    ONE node in the LSH graph instead of a 10^14-pair bucket join feeding
    connected components. The result is identical to clustering the full
    corpus, because the MinHash signature is a pure function of the text —
    the member-level pair graph is the quotient of the representative graph
    by text equality, so components (and their min labels) coincide; member
    counts and max ids are restored through the digest mapping. Exact-dup
    groups whose representative has no near-dup neighbor still surface as
    components (their members ARE duplicates of each other)."""
    members = cluster_members(docs, id_col, text_col)
    return (
        members.groupBy("component")
        .agg(
            F.count("*").alias("n_members"),
            F.max(id_col).alias("max_member"),
        )
        .filter(F.col("n_members") > 1)
    )


def cluster_members(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(id, digest, component) member-level near-dup cluster assignment —
    the dup-heavy-safe pipeline `dedup_clusters` documents (exact
    collapse -> LSH on representatives -> connected components -> digest
    re-attach), exposed so downstream consumers (cluster summaries, best
    -doc selection, cluster-keyed splits) share one definition."""
    # groups feeds the representative semi-join AND the component
    # re-attach below — one lazy checkpoint instead of two digest
    # aggregations over the corpus (guide section 3.3)
    groups = exact_dedup(docs, id_col, text_col).select(
        "digest", "keeper"
    ).localCheckpoint(eager=False)
    pairs = minhash_lsh_pairs(keepers(docs, groups, id_col), id_col,
                              text_col).filter(F.col("sim_est") >= 0.5)
    comp = connected_components(pairs)
    # every representative gets a component: its near-dup component if it
    # paired, else itself (covers pure exact-dup groups)
    rep_comp = groups.join(
        comp, groups.keeper == comp.node, "left"
    ).select(
        "digest",
        F.coalesce("component", "keeper").alias("component"),
    )
    return _digests(docs, id_col, text_col).join(rep_comp, "digest")


def cluster_best_docs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Canonical-document selection per near-dup cluster: instead of the
    min-id representative, keep each cluster's BEST member by quality
    (lexical diversity, `sampling.doc_quality`) — the production choice
    when near-duplicates differ in extraction quality (one copy clean,
    another full of boilerplate).

    Ties (identical quality — e.g. exact copies) break by MIN id via a
    max-of-(quality, -id) struct, an integer negation with no float
    negative-zero hazard. One aggregation over the member assignment —
    no window, no second pass over text.

    Output: (component, best_id, best_quality, n_members) for clusters
    with >1 member."""
    from .sampling import doc_quality

    members = cluster_members(docs, id_col, text_col)
    scored = members.join(
        docs.select(F.col(id_col), doc_quality(docs, text_col).alias("q")),
        id_col,
    )
    best = F.max(F.struct(F.col("q"), (-F.col(id_col)).alias("nid")))
    return (
        scored.groupBy("component")
        .agg(best.alias("best"), F.count("*").alias("n_members"))
        .filter(F.col("n_members") > 1)
        .select(
            "component",
            (-F.col("best.nid")).alias("best_id"),
            F.col("best.q").alias("best_quality"),
            "n_members",
        )
    )


def dedup_weights(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Duplicate-aware TRAINING WEIGHTS — the soft alternative to hard
    removal (the SoftDeDup idea: keep every copy, down-weight each by
    its near-dup multiplicity so a cluster contributes unit effective
    mass however many times it was crawled): weight = 1 / cluster_size
    over `cluster_members`' components (exact collapse -> LSH on
    representatives -> connected components — one shared cluster
    definition with dedup_clusters / cluster_best_docs). Hard dedup
    loses within-cluster variation (near dups are rarely byte-equal);
    weighting keeps it while removing the repetition bias — the choice
    between them is a training-recipe knob, so the engine provides
    both from the same clustering.

    Output: (id, component, cluster_size, weight 4 dp) for EVERY doc
    (singletons weigh 1.0), ordered by id.

    Scale shape: cluster_members' cost (the LSH band join over exact-
    dedup representatives + the CC fixpoint over candidate pairs) plus
    one component-size aggregation and one join of member rows against
    the (bounded, component-count-sized) size table.
    """
    # member assignment is consumed twice (size aggregation + the member
    # join): lazy checkpoint computes the full clustering chain once
    m = cluster_members(docs, id_col, text_col).localCheckpoint(eager=False)
    sizes = m.groupBy("component").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return (
        m.join(sizes, "component")
        .select(
            F.col(id_col), "component", "cluster_size",
            round_he(F.lit(1.0)
                     / F.col("cluster_size").cast("double"), 4)
            .alias("weight"),
        )
        .orderBy(id_col)
    )



def crawl_churn(old: DataFrame, new: DataFrame, url_col: str = "url",
                text_col: str = "text") -> DataFrame:
    """Cross-crawl churn statistics: classify every url across two crawl
    snapshots as added (new only), gone (old only), changed (both, text
    digest differs) or unchanged — the frontier health metric a recrawl
    scheduler consumes.

    Scale shape: both sides aggregate to ONE (url, digest) row BEFORE the
    full-outer equi-join (duplicate fetches of a url within a snapshot —
    the condition latest_crawl_dedup exists for — must not multiply join
    output; min(digest) is the deterministic per-snapshot content pick),
    so the shuffle carries 48-byte rows, never page bodies, and n_urls
    counts URLS. Presence is tracked by explicit flags, not digest
    nullness — a NULL text (extraction-failure rows) still marks its url
    present, and two NULL-text snapshots compare as unchanged via
    null-safe equality. The classification is a codegen'd CASE and the
    per-class counts are one 4-row hash aggregation.
    Output: (status, n_urls) sorted."""
    o = (
        old.select(F.col(url_col).alias("url"),
                   F.md5(F.col(text_col)).alias("od"))
        .groupBy("url")
        .agg(F.min("od").alias("od"))
        .withColumn("in_old", F.lit(1))
    )
    n = (
        new.select(F.col(url_col).alias("url"),
                   F.md5(F.col(text_col)).alias("nd"))
        .groupBy("url")
        .agg(F.min("nd").alias("nd"))
        .withColumn("in_new", F.lit(1))
    )
    status = (
        F.when(F.col("in_old").isNull(), "added")
        .when(F.col("in_new").isNull(), "gone")
        .when(F.col("od").eqNullSafe(F.col("nd")), "unchanged")
        .otherwise("changed")
    )
    return (
        o.join(n, "url", "full_outer")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n_urls"))
        .orderBy("status")
    )


def paragraph_dedup(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", max_freq: int = 1,
                    sep: str = "\n", keep_first: bool = False) -> DataFrame:
    """Paragraph-level exact dedup across documents (the C4/CCNet
    boilerplate-removal operator): explode each document into
    sep-delimited paragraphs, count each paragraph's global frequency,
    drop paragraphs seen in more than ``max_freq`` rows corpus-wide, and
    reassemble each document's surviving paragraphs in original order.

    Scale shape: frequencies aggregate on the paragraph's md5 digest (a
    32-char shuffle key, never the paragraph text) — partial aggregation
    collapses a hot key to one row PER MAP PARTITION before the shuffle,
    so a boilerplate paragraph repeated 10^8 times ships ~num_tasks rows,
    and the join back to paras on the same key is splittable by AQE's
    skew-join when the probe side is hot. (A count() OVER (PARTITION BY
    digest) window was tried — one fewer exchange — but a window
    partition cannot be split: the 10^8-occurrence key becomes a single
    sorting/spilling task. Aggregate+join is the 100 TB-safe shape.) The
    reassembly is one aggregation on doc id (collect_list of (pos, para)
    structs, array_sort, join) — bounded by the document's own paragraph
    count. Documents whose every paragraph was boilerplate survive with
    empty text (the row count is the input row count, a lineage
    invariant).

    ``keep_first=True`` switches to C4's actual line-dedup semantics:
    the FIRST occurrence of an over-frequent paragraph — min (doc id,
    position) corpus-wide — survives, later occurrences drop. One extra
    min-of-struct in the SAME digest aggregation (no new shuffle); the
    default drops every occurrence (self-consistent boilerplate removal,
    oracle-checked since round 4)."""
    # the paragraph table feeds the frequency aggregation AND the keep
    # join — lazy checkpoint builds the posexplode+md5 pass once (guide
    # 3.3); production materializes exactly this table between the count
    # and filter phases of a C4-style dedup
    paras = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).withColumn("ph", F.md5("para")).localCheckpoint(eager=False)
    # The empty paragraph (blank-line separators, trailing newlines) is
    # LAYOUT, not content: its digest exceeds max_freq as soon as a few
    # docs contain any blank line, and dropping it would strip blank-line
    # structure corpus-wide. Always kept.
    md5_empty = "d41d8cd98f00b204e9800998ecf8427e"
    if keep_first:
        stats = paras.groupBy("ph").agg(
            F.count("*").alias("freq"),
            F.min(
                F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))
            ).alias("first_occ"),
        )
        kept = (
            paras.join(stats, "ph")
            .filter(
                (F.col("freq") <= max_freq)
                | (F.col("ph") == md5_empty)
                | (
                    (F.col(id_col) == F.col("first_occ.i"))
                    & (F.col("pos") == F.col("first_occ.p"))
                )
            )
            .select(id_col, "pos", "para")
        )
    else:
        keep = (
            paras.groupBy("ph")
            .agg(F.count("*").alias("freq"))
            .filter((F.col("freq") <= max_freq) | (F.col("ph") == md5_empty))
            .select("ph")
        )
        kept = paras.join(keep, "ph")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias("text_dedup")
    )
    return (
        docs.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col, F.coalesce("text_dedup", F.lit("")).alias("text_dedup")
        )
    )


def jaccard_verify_pairs(docs: DataFrame, cand: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         threshold: float = 0.9) -> DataFrame:
    """Exact word-set Jaccard over a CANDIDATE pair set (a, b) — the scale
    path for n-gram Jaccard: candidates come from LSH
    (``minhash_lsh_pairs``), so the quadratic term is bounded by band
    bucket sizes instead of a blocking column the data happens to have.
    Two hash joins attach the word sets; no self-join anywhere."""
    wset = docs.select(
        F.col(id_col), F.array_distinct(_words(text_col)).alias("wset")
    )
    a = wset.select(F.col(id_col).alias("a"), F.col("wset").alias("wa"))
    b = wset.select(F.col(id_col).alias("b"), F.col("wset").alias("wb"))
    inter = F.size(F.array_intersect("wa", "wb"))
    union = F.size(F.array_union("wa", "wb"))
    return (
        cand.select("a", "b")
        .join(a, "a")
        .join(b, "b")
        .select("a", "b", (inter / union).alias("j_raw"))
        .filter(F.col("j_raw") >= threshold)
        .select("a", "b", round_he("j_raw", 4).alias("jaccard"))
    )


def ngram_jaccard_pairs(docs: DataFrame, group_col: str = "source",
                        id_col: str = "doc_id", text_col: str = "text",
                        threshold: float = 0.9) -> DataFrame:
    """Word-set Jaccard within candidate groups (blocking on group_col).

    All-pairs only *within* a block — the blocking column bounds the
    quadratic term; at scale the block is an LSH bucket, here a source."""
    base = docs.select(
        F.col(id_col),
        F.col(group_col).alias("grp"),
        F.array_distinct(_words(text_col)).alias("wset"),
    )
    a = base.select(F.col(id_col).alias("a"), "grp", F.col("wset").alias("wa"))
    b = base.select(F.col(id_col).alias("b"), "grp", F.col("wset").alias("wb"))
    inter = F.size(F.array_intersect("wa", "wb"))
    union = F.size(F.array_union("wa", "wb"))
    # threshold on the UNROUNDED value (both engines), rounding only the
    # emitted column — filtering the rounded value would keep a j_raw of
    # 0.89996 that the oracle (and any downstream consumer) drops
    return (
        a.join(b, "grp")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", (inter / union).alias("j_raw"))
        .filter(F.col("j_raw") >= threshold)
        .select("a", "b", round_he("j_raw", 4).alias("jaccard"))
    )


def window_dedup_stats(docs: DataFrame, window: int = 30, stride: int = 15,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Repeated-token-window detection — the distributed approximation of
    exact-substring dedup over training corpora (suffix-array style): hash
    every ``window``-token window at ``stride`` offsets, count each hash's
    corpus-wide occurrences, and report per document how much of it is
    duplicated text elsewhere.

    Returns (id, n_windows, n_dup_windows, dup_frac) for docs with at
    least one full window; dup_frac rounded to 4 dp. A doc whose
    dup_frac ~ 1.0 is an exact or near-exact copy; mid-range values are
    documents embedding boilerplate passages — the cases document-level
    MinHash misses.

    Scale shape: explode produces ~|tokens|/stride rows; the frequency
    count is one hash aggregation on the 32-hex window hash — partial
    aggregation collapses a hot window (identical boilerplate repeated
    across 10^8 docs) to one row per map partition before the shuffle —
    and the per-doc rollup joins freq back on that same key, where a hot
    probe key is splittable by AQE skew-join. (A count() OVER (PARTITION
    BY hash) window saves one exchange but concentrates every occurrence
    of a hot hash in one unsplittable sorting task — rejected for the
    same reason as in paragraph_dedup.) No pairwise joins anywhere —
    cost is linear in corpus size, which is why Lee et al.-style
    substring dedup stays feasible at 100 TB. Window hashes use md5 for
    cross-engine checks; xxhash64 is the production drop-in.
    """
    words = _words(text_col)
    n = F.size(words)
    starts = F.sequence(
        F.lit(0), F.floor((n - window) / F.lit(stride)).cast("int")
    )
    hashes = F.transform(
        starts,
        lambda i: F.md5(
            F.concat_ws(" ", F.slice(words, i * stride + 1, F.lit(window)))
        ),
    )
    occ = (
        docs.filter(n >= window)
        .select(F.col(id_col), F.explode(hashes).alias("wh"))
    )
    freq = occ.groupBy("wh").agg(F.count("*").alias("freq"))
    return (
        occ.join(freq, "wh")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_windows"),
            F.sum((F.col("freq") > 1).cast("long")).alias("n_dup_windows"),
        )
        .select(
            id_col, "n_windows", "n_dup_windows",
            round_he(F.col("n_dup_windows") / F.col("n_windows"), 4)
            .alias("dup_frac"),
        )
    )


def intra_doc_line_dedup(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Within-document line dedup (the C4 rule that precedes cross-doc
    paragraph dedup): keep the FIRST occurrence of each distinct line,
    preserve document order, report how many lines were dropped.

    Purely per-row array expressions — split / array_distinct (Spark's
    array_distinct is order-preserving: first occurrence survives) /
    array_join — so the operator is map-only: no explode, no shuffle,
    no state. That is the 100 TB shape: intra-doc rules never need to
    see two rows. Cross-doc dedup (paragraph_dedup, window_dedup) is
    where shuffles are earned.
    """
    lines = F.split(F.col(text_col), "\n")
    kept = F.array_distinct(lines)
    return docs.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("text"),
        (F.size(lines) - F.size(kept)).alias("n_lines_removed"),
    )


def substring_span_dedup(docs: DataFrame, n: int = 5, min_docs: int = 2,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Exact-substring SPAN removal (the ExactSubstr discipline of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better",
    at word granularity): delete from every document each word position
    covered by an n-gram that occurs in >= ``min_docs`` DISTINCT
    documents, keeping the rest of the text intact. This removes shared
    boilerplate runs (navigation, license blurbs, quoted chunks) that
    whole-document dedup can't touch because the surrounding text
    differs — the removal counterpart of textstats.dup_ngram_fraction's
    tagging. (Lee et al.'s keep-one-copy variant composes on top: join
    the duplicated grams to a min(doc,pos) winner and exempt the
    winner's positions; cross-doc REMOVE-ALL is the boilerplate-strip
    semantics wanted here, and intra-doc repetition is deliberately
    untouched.)

    Output: (id, n_words, n_removed, clean_text) for every input doc —
    clean_text is the surviving words joined by single spaces ('' when
    everything was boilerplate).

    Scale shape (suffix arrays don't distribute; this does): positional
    grams are built INSIDE the row with array functions; one
    groupBy(gram) distinct-doc count with map-side partials; one
    equi-join back attaches only the >= min_docs grams; coverage expands
    each dup start to n positions (bounded n-fold blowup of dup starts
    only, not the corpus); a left-anti equi-join drops covered word
    rows; one per-doc agg reassembles with sort_array — shuffles only on
    the gram key and the doc id, no window over the corpus, no UDFs. At
    real scale the gram shuffles as a 16-byte md5, kept raw here so the
    DuckDB twin compares human-readable keys.
    """
    words = F.split(F.col(text_col), " ")
    n_pos = F.size(words) - (n - 1)
    grams = F.when(
        n_pos >= 1,
        F.transform(
            F.sequence(F.lit(1), n_pos),
            lambda i: F.struct(
                i.alias("pos"),
                F.array_join(F.slice(words, i, n), " ").alias("gram"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,gram:string>>"))
    # positional grams feed the df aggregation AND the coverage join:
    # lazy checkpoint builds the gram table once (guide section 3.3)
    pos_gram = docs.select(
        F.col(id_col), F.explode(grams).alias("pg")
    ).select(id_col, F.col("pg.pos").alias("pos"),
             F.col("pg.gram").alias("gram")).localCheckpoint(eager=False)
    dup_grams = (
        pos_gram.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gram")
    )
    covered = (
        pos_gram.join(dup_grams, "gram")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    word_rows = docs.select(
        F.col(id_col), F.posexplode(words).alias("p0", "word")
    ).select(id_col, (F.col("p0") + 1).alias("pos"), "word")
    kept = word_rows.join(covered, [id_col, "pos"], "left_anti")
    clean = kept.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        docs.select(F.col(id_col), F.size(words).alias("n_words"))
        .join(clean, id_col, "left")
        .select(
            id_col,
            "n_words",
            (F.col("n_words") - F.coalesce("n_kept", F.lit(0)))
            .cast("int").alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def winnowing_pairs(docs: DataFrame, k: int = 4, w: int = 5,
                    min_shared: int = 2, max_bucket: int = 50,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """MOSS-style match detection on winnowing fingerprints: documents
    sharing >= ``min_shared`` selected fingerprints become candidate
    plagiarism/boilerplate pairs, ranked by the shared count. The
    winnowing guarantee makes this EXACT for long overlaps — any shared
    run of >= w + k - 1 words forces at least one common fingerprint —
    while the ~2/(w+1) selection density keeps the join input a fraction
    of the full gram table (the reason MOSS scales where raw gram
    intersection does not).

    Scale shape: the same equi-join discipline as minhash_lsh_pairs —
    one self-join keyed on the fingerprint value, pair aggregation on
    (a, b), never all-pairs. ``max_bucket`` drops fingerprints shared by
    more docs than the cap (stop-phrase runs — they dominate cost and
    carry no pair signal; the cap aggregation groups on the join key so
    AQE reuses the exchange).
    """
    from .textstats import winnowing_fingerprints

    # the distinct fingerprint table feeds the bucket-cap aggregation and
    # both self-join sides — compute the winnowing pass once (guide 3.3)
    fps = winnowing_fingerprints(
        docs, k=k, w=w, id_col=id_col, text_col=text_col
    ).select(id_col, "fp").distinct().localCheckpoint(eager=False)
    small = (
        fps.groupBy("fp").agg(F.count("*").alias("_n"))
        .filter(F.col("_n") <= max_bucket)
        .select("fp")
    )
    fps = fps.join(small, "fp")
    left = fps.select(F.col(id_col).alias("a"), "fp")
    right = fps.select(F.col(id_col).alias("b"), "fp")
    return (
        left.join(right, "fp")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("int").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def containment_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      max_df: int = 20,
                      threshold: float = 0.5) -> DataFrame:
    """ASYMMETRIC containment near-dup (Broder 1997's second resemblance
    measure): c(A->B) = |S(A) n S(B)| / |S(A)| over word n-gram shingle
    SETS. The duplication shape Jaccard structurally misses: a short doc
    fully quoted inside a long one (excerpt pages, syndicated snippets,
    quote farms) has containment ~ 1.0 while Jaccard ~ |A|/|B| falls
    under any sane near-dup threshold. A curation pipeline drops the
    contained side (it adds no novel text); MinHash/SimHash would keep
    both.

    Candidate generation is an inverted-index equi-join on the shingle
    with a document-frequency cap: shingles appearing in more than
    ``max_df`` docs (boilerplate phrases — the web's stop-shingles) are
    dropped BEFORE the self-join, which is what bounds the join fan-out:
    cost <= sum over kept shingles of df^2 <= max_df * |postings|,
    linear in corpus size for fixed max_df. Containment is then computed
    over the CAPPED shingle space (numerator and denominator drop the
    same stop-shingles — the MOSS/winnowing convention), so the metric
    stays a true ratio in [0, 1] and boilerplate cannot inflate it.

    Returns (a, b, n_common, containment_a, containment_b, jaccard) for
    unordered pairs a < b where max(c_a, c_b) >= threshold on the
    UNROUNDED value; emitted ratios rounded 4 dp. Both directions are
    reported from the one unordered pair — the join never runs twice.

    Scale: two hash aggregations (per-doc distinct shingles ride the
    explode; df count is map-side partial), one self-equi-join on the
    capped shingle, one pair aggregation. No windows, no cartesian; a
    hot shingle is impossible by the df cap. Reference analog: none
    (pipeline extension, like minhash_lsh_pairs above).
    """
    # The distinct-shingle posting list feeds the df count AND the capped
    # join; the capped postings feed the per-doc sizes AND both self-join
    # sides. Lazy checkpoints compute each once (guide section 3.3) — at
    # production these are the inverted-index tables a containment run
    # materializes anyway.
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(text_col, n))).alias("sh"),
    ).localCheckpoint(eager=False)
    dfc = sh.groupBy("sh").agg(F.count("*").alias("df"))
    kept = sh.join(
        dfc.filter(F.col("df") <= max_df).select("sh"), "sh"
    ).localCheckpoint(eager=False)
    sizes = kept.groupBy("id").agg(F.count("*").alias("n_sh"))
    pairs = (
        kept.alias("l")
        .join(kept.alias("r"), "sh")
        .filter(F.col("l.id") < F.col("r.id"))
        .groupBy(
            F.col("l.id").alias("a"), F.col("r.id").alias("b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("b"), F.col("n_sh").alias("n_b"))
    ca = F.col("n_common") / F.col("n_a")
    cb = F.col("n_common") / F.col("n_b")
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        pairs.join(sa, "a").join(sb, "b")
        .filter(F.greatest(ca, cb) >= threshold)
        .select(
            "a", "b", "n_common",
            round_he(ca, 4).alias("containment_a"),
            round_he(cb, 4).alias("containment_b"),
            round_he(jac, 4).alias("jaccard"),
        )
    )


def crawl_text_churn(old: DataFrame, new: DataFrame, url_col: str = "url",
                     text_col: str = "text", n: int = 3,
                     drift_below: float = 0.5) -> DataFrame:
    """Content DRIFT between two crawl snapshots for urls present in
    both: shingle-set Jaccard between the old and new text of the same
    url. The graded companion to crawl_churn (which classifies urls as
    added/removed/changed on the exact digest): a changed page with
    jaccard 0.98 is a timestamp/counter edit a recrawl scheduler should
    deprioritize, one at 0.1 is a real rewrite worth refetching often —
    the signal behind adaptive recrawl policies. Added/removed urls are
    crawl_churn's domain; this operator inner-joins on survivors by
    contract.

    Returns (url, n_sh_old, n_sh_new, jaccard, drifted) — drifted (INT)
    = jaccard (unrounded) < drift_below; jaccard rounded 4 dp.

    Scale shape: ONE equi-join on the url key; both shingle sets are
    built IN-ROW (array_distinct over the sequence+slice shingle
    expression — no explode, no second shuffle) and intersect/union are
    in-row array ops, so the whole comparison is map-side after the
    join. Skewed hot urls cannot exist (url is unique per snapshot);
    10^12-row snapshots sort-merge on url, which is exactly the
    partitioning a crawl store already has.
    """
    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.col(url_col).alias("url"),
            F.array_distinct(shingles(text_col, n)).alias(f"sh_{tag}"),
        )

    inter = F.size(F.array_intersect("sh_old", "sh_new"))
    union = F.size(F.array_union("sh_old", "sh_new"))
    j_raw = inter / union
    return (
        side(old, "old").join(side(new, "new"), "url")
        .select(
            "url",
            F.size("sh_old").alias("n_sh_old"),
            F.size("sh_new").alias("n_sh_new"),
            round_he(j_raw, 4).alias("jaccard"),
            (j_raw < drift_below).cast("int").alias("drifted"),
        )
    )


def incremental_near_dup(new_docs: DataFrame, corpus: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         k: int = MINHASH_K, bands: int = MINHASH_BANDS,
                         threshold: float = 0.5) -> DataFrame:
    """NEAR-dup admission for an ingest batch against an existing corpus
    — the incremental counterpart of minhash_lsh_pairs the same way
    incremental_dedup is the incremental counterpart of exact_dedup: a
    daily crawl delta is checked against the 10^12-doc store WITHOUT
    ever generating corpus x corpus (or new x new) candidates. Band keys
    equi-join NEW against CORPUS only, so the per-ingest cost is
    |new| x bands long-rows shuffled against the (pre-computable,
    persistable) corpus band table — at production the corpus side is a
    bucketed table written once per epoch and the join is shuffle-free
    on the new side's repartition.

    Returns (new_id, corpus_id, sim_est) for candidates whose full-
    signature agreement >= threshold (threshold on the unrounded
    fraction; emitted value rounded 4 dp), ordered by (new_id,
    corpus_id). Same MINHASH_COEFFS as the batch pair generator — the
    two operators' estimates are directly comparable.

    Precondition: ``id_col`` is unique within each side. The signatures
    aggregate on the id, so rows sharing an id are merged into ONE
    signature over the union of their shingles and yield at most one
    row per (new_id, corpus_id); no error is raised.
    """
    # Signatures are computed once each side and lazily checkpointed:
    # the band join consumes the band keys, the verify step re-attaches
    # the k-wide arrays AFTER the candidate ids are deduped — the same
    # "never carry the signature through the band join" discipline as
    # minhash_lsh_pairs (the previous form shipped both 64-long arrays
    # through the band join AND the distinct, ~1 KB per candidate row
    # where 16 bytes of ids suffice — guide section 2.3: shuffle keys,
    # not payloads).
    sn = minhash_signature(new_docs, id_col, text_col, k).localCheckpoint(
        eager=False
    )
    sc = minhash_signature(corpus, id_col, text_col, k).localCheckpoint(
        eager=False
    )
    nb = banded_sigs(sn, "new", id_col=id_col, k=k, bands=bands).select(
        "new_id", "band_idx", "band_key"
    )
    cb = banded_sigs(sc, "corpus", id_col=id_col, k=k, bands=bands).select(
        "corpus_id", "band_idx", "band_key"
    )
    cand = (
        nb.join(cb, ["band_idx", "band_key"])
        .select("new_id", "corpus_id")
        .distinct()
        .join(sn.select(F.col(id_col).alias("new_id"),
                        F.col("sig").alias("new_sig")), "new_id")
        .join(sc.select(F.col(id_col).alias("corpus_id"),
                        F.col("sig").alias("corpus_sig")), "corpus_id")
    )
    sim = sig_agreement("new_sig", "corpus_sig", k)
    return (
        cand.select("new_id", "corpus_id", sim.alias("sim_raw"))
        .filter(F.col("sim_raw") >= threshold)
        .select(
            "new_id", "corpus_id",
            round_he("sim_raw", 4).alias("sim_est"),
        )
        .orderBy("new_id", "corpus_id")
    )


def host_boilerplate_strip(docs: DataFrame, id_col: str = "doc_id",
                           host_col: str = "host", text_col: str = "text",
                           min_frac: float = 0.5, min_docs: int = 2,
                           sep: str = "\n") -> DataFrame:
    """HOST-scoped template-line removal (the site-level complement to
    corpus-wide ``paragraph_dedup``): a line appearing in >= ``min_frac``
    of a host's documents — on a host with >= ``min_docs`` documents —
    is site template (nav bars, cookie banners, footers) and is stripped
    from every document of that host; the identical line on another host
    is untouched. Global paragraph_dedup cannot express this locality: a
    mid-size site's shared footer at 0.01% corpus frequency sails under
    any global max_freq yet saturates its own host.

    Scale shape: line document-frequencies aggregate on (host,
    md5(line)) after a per-doc distinct (two-stage hash agg, partials
    map-side); host doc counts are one |hosts|-sized agg joined back on
    host (AQE broadcasts it). The template set is |hosts| x |template
    lines| — vanishing vs the corpus — and the strip is ONE left-anti
    equi-join on (host, digest), then the same bounded per-doc
    reassembly as paragraph_dedup. Empty lines are layout, always kept;
    every input doc survives (possibly with empty text) — the lineage
    invariant shared with paragraph_dedup.

    Returns (id, host, text_clean, n_removed).
    """
    lines = docs.select(
        F.col(id_col), F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    ).withColumn("lh", F.md5("line"))
    md5_empty = "d41d8cd98f00b204e9800998ecf8427e"
    host_n = docs.groupBy(F.col(host_col).alias("host")).agg(
        F.count("*").alias("n_docs")
    )
    dfreq = (
        lines.select("host", "lh", id_col).distinct()
        .groupBy("host", "lh")
        .agg(F.count("*").alias("df"))
    )
    boiler = (
        dfreq.join(host_n, "host")
        .filter(
            (F.col("n_docs") >= min_docs)
            & (F.col("df") >= F.col("n_docs") * F.lit(min_frac))
            & (F.col("lh") != md5_empty)
        )
        .select("host", "lh")
    )
    kept = lines.join(boiler, ["host", "lh"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("text_clean"),
        F.count("*").alias("n_kept"),
    )
    totals = lines.groupBy(id_col, "host").agg(
        F.count("*").alias("n_total")
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col, "host",
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            (F.col("n_total") - F.coalesce("n_kept", F.lit(0)))
            .alias("n_removed"),
        )
    )


def mirror_hosts(pages: DataFrame, host_col: str = "host",
                 digest_col: str = "digest", min_shared: int = 5,
                 min_frac: float = 0.5,
                 max_hosts_per_digest: int = 50) -> DataFrame:
    """Mirror / CDN-alias detection at the HOST level: flag host pairs
    whose content-digest sets overlap heavily — the signal that lets a
    crawler stop fetching mirrors.example.org when it already holds
    ftp.example.org, a whole tier above document dedup (which would
    still fetch every mirrored page before discarding it).

    Candidate generation is the inverted-index equi-join on digest —
    never host x host — with the stop-digest cap from containment_pairs:
    a digest served by more than ``max_hosts_per_digest`` hosts is
    boilerplate (empty page, soft-404 template) and generates
    cap-squared candidates for zero mirror signal, so it is dropped
    BEFORE the join (fail-open: capped digests can only lower
    overlap_frac, never fabricate a mirror). Pair counts aggregate on
    (host_a, host_b) — bounded by true shared mass, not corpus size.
    Host sizes come from the UNCAPPED distinct sets, so the containment
    denominator stays honest.

    Returns (host_a, host_b, n_shared, overlap_frac) where overlap_frac
    = shared / min(|A|, |B|) (containment of the smaller side — catches
    a partial mirror of a large site), filtered to n_shared >=
    min_shared AND unrounded frac >= min_frac, emitted rounded 4 dp.
    """
    hd = pages.select(
        F.col(host_col).alias("host"), F.col(digest_col).alias("d")
    ).distinct()
    sizes = hd.groupBy("host").agg(F.count("*").alias("n"))
    keep_d = (
        hd.groupBy("d").agg(F.count("*").alias("nh"))
        .filter(F.col("nh") <= max_hosts_per_digest)
        .select("d")
    )
    capped = hd.join(keep_d, "d")
    pairs = (
        capped.select("d", F.col("host").alias("host_a"))
        .join(capped.select("d", F.col("host").alias("host_b")), "d")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").alias("n_shared"))
    )
    frac = F.col("n_shared") / F.least("na", "nb")
    return (
        pairs
        .join(sizes.select(F.col("host").alias("host_a"),
                           F.col("n").alias("na")), "host_a")
        .join(sizes.select(F.col("host").alias("host_b"),
                           F.col("n").alias("nb")), "host_b")
        .filter((F.col("n_shared") >= min_shared) & (frac >= min_frac))
        .select(
            "host_a", "host_b", "n_shared",
            round_he(frac, 4).alias("overlap_frac"),
        )
        .orderBy("host_a", "host_b")
    )


def minhash_signature_rowwise(docs: DataFrame, id_col: str = "doc_id",
                              text_col: str = "text",
                              k: int = MINHASH_K,
                              extra: tuple = ()) -> DataFrame:
    """Projection-only (STATELESS) MinHash signature — bit-identical to
    ``minhash_signature`` (same md5-per-shingle, same affine coeffs,
    same min) but computed per ROW via array_min over the in-row
    shingle-hash array instead of an explode+groupBy. This is the form
    a STREAMING pipeline needs: a stateful aggregation would force
    update/complete output mode, while a projection keeps append mode
    and stream-static joins legal. Its one caller is the stream side of
    ``streaming.neardup_stream.neardup_admission_stream``; every batch
    operator uses the aggregate form (see minhash_signature's docstring).

    The shingle-hash array materializes as ONE column first, so the
    md5 digest is computed once per shingle regardless of k.
    Returns (id, sig array<long>[, *extra]), schema-identical to the
    agg form; ``extra`` columns (e.g. the event-time column a streaming
    consumer watermarks on) pass through — a later re-join would be a
    stream-stream join on a stream input.
    """
    xs = F.transform(
        shingles(text_col),
        lambda sh: F.conv(F.substring(F.md5(sh), 1, 8), 16, 10)
        .cast("long") % F.lit(MINHASH_P),
    )
    base = docs.select(F.col(id_col), xs.alias("xs"),
                       *[F.col(c) for c in extra])
    sig = F.array(*[
        F.array_min(F.transform(
            F.col("xs"),
            lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_P),
        ))
        for a, b in MINHASH_COEFFS[:k]
    ])
    return base.select(F.col(id_col), sig.alias("sig"),
                       *[F.col(c) for c in extra])


def banded_sigs(sig: DataFrame, tag: str, id_col: str = "doc_id",
                k: int = MINHASH_K, bands: int = MINHASH_BANDS,
                extra: tuple = ()) -> DataFrame:
    """LSH band keys from a (id, sig) frame: one row per (band_idx,
    band_key), with the id and signature renamed ``{tag}_id`` /
    ``{tag}_sig``. The one band layout, shared so it cannot drift:
    ``minhash_lsh_pairs`` (projected to (doc_id, band_idx, band_key), so
    the signature stays out of its band join), ``incremental_near_dup``
    (both sides, projected the same way), and the streaming twin's
    ``corpus_band_table`` / ``neardup_admission_stream``, which carry the
    signature to their stream-static verify."""
    r = k // bands
    band_arr = F.array(*[
        F.concat_ws("|", *[
            F.element_at("sig", b * r + j + 1).cast("string")
            for j in range(r)
        ])
        for b in range(bands)
    ])
    return sig.select(
        F.col(id_col).alias(f"{tag}_id"),
        F.col("sig").alias(f"{tag}_sig"),
        *[F.col(c) for c in extra],
        F.posexplode(band_arr).alias("band_idx", "band_key"),
    )
