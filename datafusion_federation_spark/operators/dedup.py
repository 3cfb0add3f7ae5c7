"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (per BASELINE.json north star): exact dedup,
document fingerprinting, MinHash+LSH, SimHash, and n-gram Jaccard
near-dup detection — each designed shuffle-aware for 100 TB:

- exact/fingerprint dedup: one hash-partitioned groupBy on a 128-bit digest
  (no full-text shuffle — only (digest, id) pairs move).
- MinHash+LSH: shingle -> K minhashes -> B bands; candidate generation is a
  self-join on (band_id, band_hash) buckets, so the shuffle key is the
  band hash (uniform), never the raw document. Complexity O(N * K) map-side
  + bucket-sized joins instead of O(N^2).
- SimHash: vectorized Arrow-batched pandas UDF (the sanctioned slow path)
  producing a 64-bit signature; near-dup = small hamming distance within
  LSH buckets of signature chunks.

All heavy expressions use built-in pyspark.sql.functions (JVM/codegen);
only SimHash bit-packing drops to a pandas UDF.
"""

from __future__ import annotations

from typing import Iterator, Optional, Sequence  # noqa: F401 (Iterator:
# pandas_udf type-hint resolution, see below)

# module-level so PySpark's pandas_udf type-hint resolution can see `pd`
# and `Iterator` (with `from __future__ import annotations` the hints are
# strings and are resolved against this module's globals at decoration
# time).
import pandas as pd  # noqa: F401
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# exact + fingerprint
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, cols: Sequence[str], id_col: str) -> DataFrame:
    """Keep the min-id row per exact duplicate group of `cols`.

    Scale: groupBy on md5 digest of the concatenated key columns — the
    shuffle moves (digest, id), not the payload; the surviving ids are
    joined back (broadcast when small, AQE otherwise).
    """
    # digest over the JSON encoding of the key struct: null-safe and
    # unambiguous (concat_ws would DROP nulls, colliding
    # ('x', NULL) with (NULL, 'x'), and a separator char appearing in
    # the data could shift field boundaries)
    digest = F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))
    keep = (df.select(F.col(id_col), digest.alias("__digest"))
              .groupBy("__digest").agg(F.min(id_col).alias(id_col)))
    return df.join(keep.select(id_col), on=id_col, how="left_semi")


def normalize_text(col) -> F.Column:
    """Canonical text normalization used before fingerprinting: lowercase,
    collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(df: DataFrame, text_col: str,
                out_col: str = "fingerprint") -> DataFrame:
    """Deterministic document fingerprint = md5 of normalized text
    (portable across engines, unlike engine-specific hash functions)."""
    return df.withColumn(out_col, F.md5(normalize_text(F.col(text_col))))


# ---------------------------------------------------------------------------
# shingling (shared by minhash / jaccard)
# ---------------------------------------------------------------------------

def array_grams(words, n: int = 3) -> F.Column:
    """POSITION-ORDERED n-grams over an ALREADY-SPLIT token array —
    gram j (0-based) concatenates elements j..j+n-1 of ``words``
    exactly as given (no normalization; callers that need verbatim
    position alignment with their own token split — span removal —
    must use this form, review r7).

    Built as (n-1) zip_with passes over shifted copies of the array:
    a higher-order function's ARRAY INPUT is evaluated once per row,
    only the lambda runs per element. The previous formulation indexed
    ``words`` via element_at inside a transform lambda, which re-ran
    the whole upstream expression per gram index — measured 10.6 s of
    a 12.7 s MinHash pass at sf0.1; this shape computes the word array
    a constant number of times per row.

    Full n-grams only, except arrays shorter than n yield one partial
    gram (concat_ws skips the null padding)."""
    g = words
    for j in range(1, n):
        shifted = F.slice(words, j + 1,
                          F.greatest(F.size(words) - j, F.lit(0)))
        g = F.zip_with(g, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(g, 1, F.greatest(F.size(words) - (n - 1), F.lit(1)))


def word_grams(col, n: int = 3) -> F.Column:
    """NORMALIZED word n-grams of a text column (lowercase, collapsed
    whitespace — the dedup/winnowing convention): array_grams over
    normalize_text's split. See array_grams for the evaluation-shape
    rationale."""
    return array_grams(F.split(normalize_text(col), " "), n)


def word_shingles(col, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles (set semantics — the dedup/Jaccard
    input). See word_grams for the evaluation-shape rationale."""
    return F.array_distinct(word_grams(col, n))


# Analyzed-plan node names that preserve the scan's partitioning
# 1:1 (narrow, no exchange): only frames built purely from these may
# trust the FILE count as a partition lower bound. Anything else —
# Aggregate, Join, Repartition, Window, Deduplicate, Limit... — can
# collapse a 2000-file scan to 1-2 post-shuffle partitions (AQE
# coalescing), exactly the layout _fan_out must correct.
_NARROW_NODES = frozenset({
    "Project", "Filter", "SubqueryAlias", "View", "Relation",
    "UnresolvedRelation",
})


def _scan_backed(df: DataFrame) -> bool:
    """True iff every node of the analyzed logical plan is narrow and
    partition-preserving over a file scan (see _NARROW_NODES).
    Analysis is already cached on the DataFrame's QueryExecution, so
    this reads a string — no optimization, no RDD conversion. Unknown
    or exotic nodes return False (fall through to the authoritative
    rdd probe), never a wrong fast-path."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # noqa: BLE001 - py4j / API drift
        return False
    for line in plan.splitlines():
        node = line.lstrip(" +-:").split(" ", 1)[0].split("[", 1)[0]
        if node and node not in _NARROW_NODES:
            return False
    return True


def _fan_out(df: DataFrame) -> DataFrame:
    """Spread a narrow scan across the cluster BEFORE CPU-heavy string
    work. A small corpus arrives as one parquet split (one task), and
    every shingle explode / hash / window downstream then serializes on
    that task (measured r6: the whole prefix-candidate pipeline ran
    (0+1)/1 stages, 11s at sf0.1). Conditional on the observed layout:
    when the scan already has >= defaultParallelism splits (any real
    100 TB input), this is a no-op — no shuffle is added.

    Probe cost (ADVICE r6): ``df.rdd.getNumPartitions()`` forces a
    DataFrame->RDD physical-plan conversion on EVERY call — plan-time
    overhead even on the already-parallel no-op path. For scan-backed
    frames ``inputFiles()`` is metadata-only, and file-packing gives a
    hard bound: FileSourceScan packs at most
    maxPartitionBytes/openCostInBytes files into one split (every file
    is padded with the open cost), so nfiles >= that ratio * want
    GUARANTEES >= want scan partitions with no planning at all — the
    shape of any real 100 TB input. That bound only holds when NO
    exchange sits between the scan and this call (a post-shuffle frame
    can be AQE-coalesced to 1-2 partitions regardless of file count,
    and a join's inputFiles() unions both sides), so the shortcut is
    gated on _scan_backed (review r7). Frames that fail either cheap
    test (single-file small corpora, in-memory or shuffled frames)
    fall through to the authoritative rdd probe, where planning cost
    is proportional to the small plan it measures."""
    spark = df.sparkSession
    sc = spark.sparkContext
    want = sc.defaultParallelism
    try:
        mpb = int(spark.conf.get("spark.sql.files.maxPartitionBytes")
                  .lower().rstrip("b"))
        opc = int(spark.conf.get("spark.sql.files.openCostInBytes")
                  .lower().rstrip("b"))
        files_per_split = max(mpb // max(opc, 1), 1)
        if _scan_backed(df) \
                and len(df.inputFiles()) >= files_per_split * want:
            return df
    except Exception:  # noqa: BLE001 - unparsable conf / non-scan frame
        pass
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


def shingle_table(df: DataFrame, text_col: str, id_col: str,
                  n: int = 3, with_size: bool = False) -> DataFrame:
    """(id, shingle[, n_sh]) exploded pairs (input fanned out across
    tasks — the explode inflates ~200x, so upstream splits understate
    the downstream work).

    ``with_size=True`` additionally carries the doc's DISTINCT shingle
    count on every exploded row (r14 optimization round, guide §2.3):
    the shingle array is built ONCE in its own projection, the Generate
    retains it, and ``n_sh = size(arr)`` is O(1) per exploded row — so
    consumers that need per-doc set sizes (the Jaccard union term) read
    them off the rows they already hold instead of re-running the
    gram build in a second scan (the r13 row-local
    ``size(word_shingles(...))`` form, measured +0.3–0.4 s on d03: one full normalize+zip_with pass
    PER size reference with no exchange for ReuseExchange to dedupe) or
    re-aggregating the explode (the pre-r13 form)."""
    arr = _fan_out(df).select(
        F.col(id_col), word_shingles(F.col(text_col), n).alias("__arr"))
    # explode_outer, NOT explode: InferFiltersFromGenerate adds
    # size(child)>0 below a plain explode once the child is a cheap
    # attribute, and predicate pushdown then substitutes the alias all
    # the way into the scan — re-evaluating the whole gram build per
    # row in a filter that prunes nothing (observed: 2 zip_with chains
    # in the d03 plan, one at the scan). The rule skips OUTER
    # generators; a NULL-text doc (the only null/empty __arr source —
    # word_shingles yields >= 1 element otherwise) then emits one
    # NULL row, dropped right here above the Generate where the filter
    # cannot sink. Net: the gram build appears ONCE in the plan (r14
    # optimization round, guide §2.4/§7.2).
    if not with_size:
        return (arr.select(F.col(id_col),
                           F.explode_outer("__arr").alias("shingle"))
                .filter(F.col("shingle").isNotNull()))
    # with_size: pack (shingle, n_sh) INTO the generator output. A bare
    # n_sh = size(__arr) projection is alias-substitutable, and the
    # isnotnull(n_sh) constraints inferred from downstream Jaccard
    # filters/joins sink through it into the scan — re-running the gram
    # build there (observed on d33's corpus side). Generator OUTPUT
    # attributes are a pushdown barrier, so field extraction stops any
    # inferred predicate right above the Generate. size() inside the
    # lambda is O(1) per element (array length header).
    gen = F.explode_outer(F.transform(
        F.col("__arr"),
        lambda s: F.struct(
            s.alias("shingle"),
            F.size(F.col("__arr")).cast("long").alias("n_sh"))))
    return (arr.select(F.col(id_col), gen.alias("__p"))
            .filter(F.col("__p").isNotNull())
            .select(F.col(id_col), F.col("__p.shingle").alias("shingle"),
                    F.col("__p.n_sh").alias("n_sh")))


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (exact, set-based)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        n: int = 3, threshold: float = 0.5,
                        max_doc_freq: Optional[int] = None) -> DataFrame:
    """Exact Jaccard similarity over word n-gram shingle sets for all
    candidate pairs sharing >=1 shingle.

    Scale: the join key is the shingle (uniform-ish for real text); pair
    aggregation shuffles (id_a, id_b) counts only. For 100 TB precede with
    minhash_lsh_candidates to bound the pair space; this operator is the
    exact verifier.

    ``max_doc_freq`` (opt-in, default None = exact): drop shingles held
    by more than this many documents before the self-join. A stop-phrase
    shingle shared by k documents expands to k*(k-1)/2 join rows — one
    hot shingle can dominate the whole standalone run. The cap makes the
    intersection counts (and thus Jaccard) a LOWER BOUND: pairs can only
    be missed, never invented, and only pairs whose overlap consists
    mostly of corpus-wide boilerplate are affected. The number of
    dropped shingles is logged (never silent), and the registered d03
    query keeps the exact default."""
    # per-doc set sizes RIDE THE ONE EXPLODE (with_size=True): the r13
    # row-local form re-ran the gram build once per size reference
    # (measured +0.3-0.4s on d03, no exchange for ReuseExchange to
    # dedupe), and the pre-r13 groupBy-count form re-aggregated the
    # explode. Carrying n_sh on the exploded rows costs 8 bytes per
    # row and removes BOTH size joins and BOTH extra scans (r14
    # optimization round, guide §2.3/§2.4).
    sh = shingle_table(df, text_col, id_col, n, with_size=True)
    # One shuffle instead of a shingle self-join (r5, measured ~25%
    # faster at sf0.1: 3.6s -> 2.7s steady-state): group the doc ids
    # sharing each shingle into a sorted bucket, then expand ordered
    # pairs INSIDE the bucket (the same shape the LSH path uses).
    # Singleton buckets are dropped — the lossless df>=2 prune — and
    # per-doc set sizes (the union term) ride each member struct, so
    # Jaccard stays exact. A hot stop-phrase shingle now
    # holds its k doc ids in one array row rather than streaming k^2
    # join rows; with the df cap (or an LSH pre-filter upstream) k is
    # bounded, which is why exact standalone runs on boilerplate-heavy
    # corpora should set max_doc_freq.
    buckets = (sh.groupBy("shingle")
               .agg(F.array_sort(F.collect_list(
                   F.struct(F.col(id_col).alias("id"),
                            F.col("n_sh").alias("ns")))).alias("ids"))
               .filter(F.size("ids") >= 2))
    if max_doc_freq is not None:
        # materialize the bucket aggregate once: the logging count
        # would otherwise re-run the full shingle explode+groupBy a
        # second time for the main pipeline
        buckets = buckets.localCheckpoint()
        dropped = buckets.filter(F.size("ids") > max_doc_freq).count()
        if dropped:
            import logging
            logging.getLogger(__name__).warning(
                "ngram_jaccard_pairs: dropping %d stop-phrase shingles "
                "with doc-frequency > %d; reported Jaccard becomes a "
                "lower bound", dropped, max_doc_freq)
        buckets = buckets.filter(F.size("ids") <= max_doc_freq)
    # (A size-ratio length filter — J(A,B) <= min/max sizes — is the
    # textbook next prune for heterogeneous corpora; on this fixture's
    # uniform doc lengths it prunes nothing and the extra broadcast join
    # measured net-negative, so it is intentionally omitted.)
    # na/nb are functionally dependent on (id_a, id_b), so adding them
    # to the grouping keys changes no group — and the jaccard becomes
    # row-local arithmetic: no sizes join at all
    pairs = (buckets.select(F.explode(F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x.id AS id_a, y.id AS id_b, "
        "x.ns AS na, y.ns AS nb))))")).alias("p"))
        .select("p.id_a", "p.id_b", "p.na", "p.nb")
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count("*").alias("inter")))
    out = (pairs.withColumn("jaccard",
                            F.col("inter") /
                            (F.col("na") + F.col("nb") - F.col("inter")))
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b",
                        F.round("jaccard", 6).alias("jaccard")))
    return out


def jaccard_prefix_candidates(df: DataFrame, text_col: str, id_col: str,
                              n: int = 3,
                              threshold: float = 0.5,
                              _sh: Optional[DataFrame] = None) -> DataFrame:
    """EXACT candidate generation via the AllPairs/PPJoin prefix filter:
    under a global shingle order (corpus frequency asc, shingle), any
    pair with Jaccard >= t must share a shingle inside BOTH docs'
    prefixes of length |d| - ceil(t*|d|) + 1 (the smallest shared
    shingle is; sharing only suffix shingles caps the overlap below
    ceil(t*|d|), contradicting J >= t). So bucketing PREFIX shingles
    only is a lossless candidate filter — and corpus-hot boilerplate
    shingles rank LAST in frequency order, which excludes them from
    prefixes: the k^2 hot-bucket blowup of the plain shingle join
    disappears without giving up exactness (the cure for the
    boilerplate-heavy standalone case max_doc_freq only bounds).

    ``_sh``: optionally a prebuilt (id, shingle) table — the full-path
    caller materializes ONE shingle explode and shares it with the
    verifier (see ngram_jaccard_pairs_prefix)."""
    if not 0.0 < threshold <= 1.0:
        # threshold > 1 would drive the slice length below zero and
        # fail mid-job with an opaque slice error; <= 0 makes every
        # pair a candidate. Fail at entry with a clear message
        # (ADVICE r13).
        raise ValueError(
            f"threshold must be in (0, 1], got {threshold}")
    sh = shingle_table(df, text_col, id_col, n) if _sh is None else _sh
    freq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    # per-doc prefix selection as a doc-bounded AGGREGATE instead of a
    # row_number window (r13 optimization round, guide §2.4): the old
    # form sorted the whole (shingle, df) table within doc partitions
    # and ran two window functions; collecting each doc's (df, shingle)
    # structs and array_sort-ing ROW-LOCALLY ranks by exactly the same
    # (df asc, shingle asc) order — struct comparison is field-major
    # and (df, shingle) is unique within a doc, so the slice keeps the
    # identical prefix set. The collected array is bounded by the
    # doc's own distinct-shingle count (never corpus-scale) — note the
    # residual trade (ADVICE r13): a pathological single document with
    # a huge distinct-shingle set holds its whole struct array in one
    # aggregation buffer, where the old window's external sort could
    # spill within the doc; bound document length upstream (the
    # curation operators' job) before relying on this at 100 TB.
    # Measured at sf0.1: wall-time NEUTRAL (verification dominates
    # d65; candidates stage ~1.7s both forms), kept for the plan
    # shape — the per-partition sort of the full joined shingle table
    # and both window nodes are gone, and candidate sets are pinned
    # identical across sf0.01/sf0.1 at thresholds 0.5/0.72/0.8.
    prefix = (sh.join(freq, "shingle")
              .groupBy(id_col)
              .agg(F.array_sort(F.collect_list(
                  F.struct(F.col("__df"), F.col("shingle")))).alias("__a"))
              .select(id_col, F.explode(F.expr(
                  # the D suffix pins the threshold literal to DOUBLE —
                  # a bare 0.8 parses as DECIMAL(1,1), whose exact
                  # ceil(0.8*5)=4 diverges from the double form's
                  # ceil(.8000000000000000444*5)=5 the old window
                  # arithmetic (F.lit(threshold)) computed
                  f"slice(__a, 1, cast(size(__a) - "
                  f"ceil({float(threshold)!r}D * size(__a)) + 1 as int))"
              )).alias("__p"))
              .select(id_col, F.col("__p.shingle").alias("shingle")))
    buckets = (prefix.groupBy("shingle")
               .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
               .filter(F.size("ids") >= 2))
    return (buckets.select(F.explode(F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b))))")).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct())


def ngram_jaccard_pairs_prefix(df: DataFrame, text_col: str, id_col: str,
                               n: int = 3,
                               threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard near-dup pairs with PREFIX-FILTERED candidate
    generation (jaccard_prefix_candidates) + the shared exact verifier.
    Identical results to ngram_jaccard_pairs; built for boilerplate-
    heavy corpora where the plain shingle join's hot buckets explode.
    Costs one extra window (per-doc frequency ranking) — on benign
    corpora the plain path is cheaper, so this is the alternative, not
    the default.

    r7 (VERDICT r6 Next #4): the candidate pass and the verifier both
    consume the (id, shingle) explode — five lineage re-executions of
    the ~200x inflation without sharing (freq agg, window join, sizes,
    sh_a, sh_b). Materializing it ONCE here measured 3.45-3.63s warm
    vs 3.93-4.75s (and 4.7s vs 11.6s cold) at sf0.1, identical output.
    The r2 "cache barrier is net-negative on the big shingle table"
    note applies to d03's SINGLE-pass plain path; with five consumers
    the one materialization amortizes. localCheckpoint spills
    MEMORY_AND_DISK, so at extreme corpus sizes this trades executor
    storage for recompute — the right trade for a 5x-referenced
    frame."""
    sh = shingle_table(df, text_col, id_col, n,
                       with_size=True).localCheckpoint()
    cand = jaccard_prefix_candidates(df, text_col, id_col, n, threshold,
                                     _sh=sh)
    return verify_candidates(df, cand, text_col, id_col, n, threshold,
                             _sh=sh)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(col, num_hashes: int = 32, shingle_n: int = 3) -> F.Column:
    """MinHash signature as array<bigint>: for seed i, min over shingles of
    xxhash64(i-salted shingle). Entirely JVM-side (xxhash64 + transform +
    array_min), no UDF, no shuffle.

    NOTE: inlines the shingle build into each of the num_hashes min
    expressions — callers on a hot path should materialize the shingle
    array once and use minhash_signature_from_shingles."""
    return minhash_signature_from_shingles(
        word_shingles(col, shingle_n), num_hashes)


def minhash_signature_from_shingles(shingles_col,
                                    num_hashes: int = 32) -> F.Column:
    """MinHash over an already-materialized shingle array column: ONE
    transform emits all K salted hashes per element, then ONE aggregate
    folds an elementwise min across elements.

    The previous formulation — K sibling array_min(transform(..,
    lambda s, i=i: hash(lit(i), s))) projections — was SILENTLY WRONG:
    a two-parameter lambda selects F.transform's optional
    (element, INDEX) form, so the captured ``i`` default was overridden
    by the array-index Column and the salt became the element POSITION,
    identical in every sibling — one effective hash function instead of
    K, a degenerate LSH. Exact-Jaccard verification kept emitted pairs
    correct, but candidate recall was silently damaged; the md5 oracle
    twin (d24) exposed the divergence. Single-argument lambdas
    everywhere now; the fold computes the textbook signature."""
    hashed = F.transform(
        shingles_col,
        lambda s: F.array(*[F.xxhash64(F.lit(i), s)
                            for i in range(num_hashes)]))
    init = F.array(*[F.lit(9223372036854775807).cast("bigint")
                     for _ in range(num_hashes)])
    return F.aggregate(hashed, init,
                       lambda acc, x: F.zip_with(
                           acc, x, lambda a, b: F.least(a, b)))


def _lsh_candidates(df: DataFrame, text_col: str, id_col: str,
                    num_hashes: int, bands: int, shingle_n: int,
                    elem_hash, bucket_hash,
                    _sh: Optional[DataFrame] = None) -> DataFrame:
    """Shared LSH-banding skeleton, GROUPED-MIN form: explode shingles
    once, take the K salted minima as K hash-aggregate columns (whole-
    stage-codegen min, map-side combined), hash each band's minima into
    a bucket, self-join on (band, bucket).

    elem_hash(i, col) -> salted hash of a shingle column;
    bucket_hash(cols) -> bucket hash of one band's minima columns.

    Measured 3.1x faster than the per-row array-fold form at sf0.1
    (hash-agg minima beat nested lambda array allocation; identical
    candidates). Shuffle keys: the explode groups by id (map-side
    combine collapses to one row per doc before moving), then
    (band, band_hash) for the bucket join — uniformly distributed,
    skew-resistant; pair generation is per-bucket, so cost scales with
    bucket sizes, not N^2."""
    if num_hashes % bands != 0:
        # a contract check, not a debug assert: must survive python -O
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}) — each band hashes num_hashes/bands signature "
            "rows")
    rows_per_band = num_hashes // bands
    # exploding DISTINCT shingles; blank docs shingle to [''] only — the
    # '' shingle is dropped so they exit the candidate space entirely
    # (k blank docs would otherwise share one bucket in every band: a
    # quadratic k*(k-1)/2 spurious-pair blowup on a dirty corpus).
    # ``_sh``: optionally a prebuilt (id, shingle) table — the
    # candidates+verify composition materializes ONE shingle explode
    # and shares it (see minhash_dedup_pairs; the d65 prefix-path
    # pattern applied here, r13 optimization round)
    if _sh is None:
        sh = (df.select(F.col(id_col),
                        F.explode(word_shingles(F.col(text_col),
                                                shingle_n))
                        .alias("__s"))
              .filter(F.col("__s") != ""))
    else:
        sh = (_sh.select(F.col(id_col), F.col("shingle").alias("__s"))
              .filter(F.col("__s") != ""))
    mins = sh.groupBy(id_col).agg(
        *[F.min(elem_hash(i, F.col("__s"))).alias(f"__h{i}")
          for i in range(num_hashes)])
    band_entries = mins.select(
        id_col,
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                bucket_hash([F.col(f"__h{i}")
                             for i in range(b * rows_per_band,
                                            (b + 1) * rows_per_band)])
                .alias("bucket"))
            for b in range(bands)])).alias("bb"))
    band_entries = band_entries.select(
        id_col, F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"))
    # pair generation via groupBy + in-bucket combinations, NOT a
    # self-join: the self-join re-executes the whole signature lineage
    # (explode + K minima) for BOTH sides — the same lesson the SimHash
    # operator learned (simhash_near_pairs below). Buckets are small
    # (near-dup clusters), so per-bucket pair expansion is tiny.
    buckets = (band_entries.groupBy("band", "bucket")
               .agg(F.array_sort(F.collect_list(F.col(id_col)))
                    .alias("mem"))
               .filter(F.size("mem") >= 2))
    mem = F.col("mem")
    pair_arr = F.flatten(F.transform(
        mem, lambda x, i: F.transform(
            F.slice(mem, i + 2, F.size(mem)),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")))))
    return (buckets.select(F.explode(pair_arr).alias("p"))
            .select("p.id_a", "p.id_b")
            .distinct())


def minhash_lsh_candidates(df: DataFrame, text_col: str, id_col: str,
                           num_hashes: int = 32, bands: int = 8,
                           shingle_n: int = 3,
                           _sh: Optional[DataFrame] = None) -> DataFrame:
    """Candidate near-dup pairs via LSH banding over xxhash64 MinHash
    signatures (the fast path: one JVM long op per hash)."""
    return _lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_n,
        elem_hash=lambda i, s: F.xxhash64(F.lit(i), s),
        bucket_hash=lambda cols: F.xxhash64(
            F.concat_ws(",", *[c.cast("string") for c in cols])),
        _sh=_sh)


def minhash_md5_candidates(df: DataFrame, text_col: str, id_col: str,
                           num_hashes: int = 16, bands: int = 4,
                           shingle_n: int = 3,
                           _sh: Optional[DataFrame] = None) -> DataFrame:
    """ENGINE-PORTABLE MinHash+LSH candidates: h_i(shingle) =
    md5(i || ':' || shingle) compared AS HEX STRINGS — MIN over strings
    is total-ordered and bit-identical in every engine with md5, so the
    whole pipeline (signatures, band hashes, buckets) is reproducible
    in plain SQL and oracle-checkable cross-engine (see d24). The
    xxhash64 variant (minhash_lsh_candidates) is the fast path — one
    JVM long op per hash vs an md5 over a materialized string — sharing
    the same _lsh_candidates skeleton; this one is the cross-engine
    correctness anchor. Same 100 TB shape: bucket join on
    (band, band_hash)."""
    return _lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_n,
        elem_hash=lambda i, s: F.md5(F.concat(F.lit(f"{i}:"), s)),
        bucket_hash=lambda cols: F.md5(F.concat_ws("|", *cols)),
        _sh=_sh)


def minhash_dedup_pairs(df: DataFrame, text_col: str, id_col: str,
                        num_hashes: int = 32, bands: int = 8,
                        shingle_n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """LSH candidates -> exact Jaccard verification (the standard
    two-stage near-dup pipeline).

    r13 (optimization round): the candidate pass and the verifier
    both consume the (id, shingle) explode — four lineage executions
    of the ~200x inflation without sharing (the K-minima aggregate,
    sizes, sh_a, sh_b). Materializing it ONCE here is the exact d65
    prefix-path lesson (ngram_jaccard_pairs_prefix docstring, r7)
    applied to the xxhash64 pipeline; candidates and verified values
    are unchanged (d04 rows; d24 runs the same skeleton under a full
    md5 oracle)."""
    sh = shingle_table(df, text_col, id_col, shingle_n,
                       with_size=True).localCheckpoint()
    cand = minhash_lsh_candidates(df, text_col, id_col, num_hashes, bands,
                                  shingle_n, _sh=sh)
    return verify_candidates(df, cand, text_col, id_col, shingle_n,
                             threshold, _sh=sh)


def verify_candidates(df: DataFrame, cand: DataFrame, text_col: str,
                      id_col: str, shingle_n: int = 3,
                      threshold: float = 0.5,
                      _sh: Optional[DataFrame] = None) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs.

    Shape choice (re-measured r6 with parallel scans): the shingle-
    equality join expands candidates to |pairs| x |shared shingles|
    SMALL rows that pipeline through one count aggregate — 2.9s warm at
    sf0.1 on 118k candidates. The tempting alternative (attach each
    side's full shingle ARRAY by id and ``array_intersect`` in-task)
    shuffles two ~KB arrays per candidate row and measured 6.0s on the
    same input — carrying payloads loses to counting matches here, so
    this keeps the counting form."""
    # the candidate list is referenced three times below (two semi-join
    # prunes + the intersection join); without a lineage break each use
    # re-executes the ENTIRE candidate pipeline (signatures included).
    # Candidates are a tiny near-dup sliver, so an eager localCheckpoint
    # costs one small materialization and removes 2x-4x re-computation
    # (the r2 note about a cache barrier being net-negative applied to
    # the BIG shingle table, not to this small frame).
    cand = cand.localCheckpoint(eager=True)
    sh = (shingle_table(df, text_col, id_col, shingle_n, with_size=True)
          if _sh is None else _sh)
    # per-doc set sizes RIDE THE SHINGLE ROWS (shingle_table
    # with_size=True; r14 optimization round, guide §2.3): the union
    # term is carried through the intersection join instead of joined
    # back from a separate sizes frame — two joins and two extra
    # gram-build scans removed. A prebuilt `_sh` must carry n_sh too.
    sh_a = sh.select(F.col(id_col).alias("id_a"),
                     F.col("shingle").alias("sh_a"),
                     F.col("n_sh").alias("na"))
    sh_b = sh.select(F.col(id_col).alias("id_b"),
                     F.col("shingle").alias("sh_b"),
                     F.col("n_sh").alias("nb"))
    # candidates are a tiny fraction of the corpus: semi-join the shingle
    # tables down to candidate ids before the expensive shingle-equality
    # join (at 100 TB this is the difference between joining the corpus
    # and joining the near-dup sliver).
    sh_a = sh_a.join(cand.select("id_a").distinct(), "id_a", "left_semi")
    sh_b = sh_b.join(cand.select("id_b").distinct(), "id_b", "left_semi")
    # na/nb are functionally dependent on the pair keys, so grouping on
    # them changes no group and the jaccard is row-local afterwards
    inter = (cand
             .join(sh_a, "id_a")
             .join(sh_b, on=[cand.id_b == sh_b.id_b,
                             F.col("sh_a") == F.col("sh_b")])
             .drop(sh_b.id_b)
             .groupBy("id_a", "id_b", "na", "nb")
             .agg(F.count("*").alias("inter")))
    return (inter
            .withColumn("jaccard", F.col("inter") /
                        (F.col("na") + F.col("nb") - F.col("inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b",
                    F.round("jaccard", 6).alias("jaccard")))


# ---------------------------------------------------------------------------
# SimHash (pandas-UDF slow path, Arrow-batched)
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, text_col: str, id_col: str,
            out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash per document via a vectorized pandas UDF
    (Arrow-batched; ~10-100x a row-at-a-time Python UDF). Signature is
    deterministic (md5-derived word hashes).

    Measured note: a pure-builtin formulation (xxhash64 word hashes +
    64 bit-votes via aggregate/zip_with/getbit) was benchmarked SLOWER
    than this UDF at sf0.1 (5.5 s vs 4.3 s) — per-word 64-wide array
    arithmetic in codegen costs more than C md5 + Arrow transfer, so
    the UDF is the deliberately chosen fast path here.

    r13 (optimization round, guide §4.2/§4.5): the per-word Python
    inner loop (64 add/shift ops per word occurrence) was the batch's
    cost center. Votes are now ±1 NUMPY vectors unpacked straight from
    the md5 digest bytes (np.unpackbits — bit b of the big-endian
    64-bit prefix is bit b%8 of reversed byte b//8), memoized per
    UNIQUE word in a per-TASK dict (iterator-form pandas UDF: corpus
    vocabulary is far smaller than the token stream), and each doc's
    accumulator is one counts·votes matrix product. Exact-integer
    arithmetic throughout — bit-identical signatures to the loop form
    (pinned: test_simhash_pinned; ~5x on the pure-Python kernel, d05
    bench before/after in OPTIMIZATION_r13.md)."""
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    def _votes_factory(memo):
        def votes(w: str):
            v = memo.get(w)
            if v is None:
                d = hashlib.md5(w.encode()).digest()[7::-1]
                bits = np.unpackbits(np.frombuffer(d, dtype=np.uint8),
                                     bitorder="little")
                v = bits.astype(np.int64) * 2 - 1
                memo[w] = v
            return v
        return votes

    @pandas_udf("long")
    def _simhash(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # one memo per task, amortized over every batch (guide §4.5)
        votes = _votes_factory({})
        weights = np.array([1 << b for b in range(63)] + [-(1 << 63)],
                           dtype=np.int64)  # bit 63 is the sign bit
        for texts in batches:
            out = []
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                words = t.lower().split()
                if not words:
                    out.append(0)
                    continue
                uniq, counts = np.unique(np.asarray(words, dtype=object),
                                         return_counts=True)
                acc = counts @ np.stack([votes(w) for w in uniq])
                # signed-64 wrap comes free from the negative bit-63
                # weight; ints stay exact (|acc| <= n_words < 2**31)
                out.append(int(weights[acc > 0].sum()))
            yield pd.Series(out, dtype="object")

    return df.withColumn(out_col, _simhash(F.col(text_col)))


def simhash_near_pairs(df: DataFrame, text_col: str, id_col: str,
                       max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance.

    Scale: bucket on 4x16-bit signature chunks (a pair within hamming<=3 of
    64 bits must agree exactly on at least one 16-bit chunk when
    max_hamming < 4; for larger radii this is a high-recall heuristic) —
    the join key is the chunk value, never O(N^2).
    """
    # null/blank texts all hash to signature 0 and would share EVERY
    # chunk bucket — k blank docs emit k*(k-1)/2 hamming-0 "near-dup"
    # pairs on a dirty corpus (the same blowup the MinHash candidate
    # path guards against); they cannot be near-duplicates of anything
    df = df.filter(F.col(text_col).isNotNull()
                   & (F.trim(F.col(text_col)) != ""))
    sh = simhash(df, text_col, id_col).select(id_col, "simhash")
    chunks = sh.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("chunk"),
                     F.shiftright(F.col("simhash"), i * 16)
                      .bitwiseAND(F.lit(0xFFFF)).alias("val"))
            for i in range(4)])).alias("c"))
    chunks = chunks.select(id_col, "simhash",
                           F.col("c.chunk").alias("chunk"),
                           F.col("c.val").alias("val"))
    # pair generation via groupBy + in-bucket combinations, NOT a
    # self-join: a self-join re-executes the whole signature lineage
    # (the pandas UDF) for both sides — measured 2x the cost of the
    # entire rest of the operator. Buckets are small (near-dup
    # clusters), so the per-bucket pair expansion is tiny; `mem` below
    # is an attribute reference, cheap to reference inside lambdas.
    buckets = (chunks.groupBy("chunk", "val")
               .agg(F.array_sort(F.collect_list(
                   F.struct(F.col(id_col).alias("id"),
                            F.col("simhash").alias("h")))).alias("mem"))
               .filter(F.size("mem") >= 2))
    mem = F.col("mem")
    pair_arr = F.flatten(F.transform(
        mem, lambda x, i: F.transform(
            F.slice(mem, i + 2, F.size(mem)),
            lambda y: F.struct(x["id"].alias("id_a"),
                               y["id"].alias("id_b"),
                               x["h"].alias("h_a"),
                               y["h"].alias("h_b")))))
    pairs = (buckets.select(F.explode(pair_arr).alias("p"))
             .select("p.id_a", "p.id_b", "p.h_a", "p.h_b")
             .distinct())
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (pairs.withColumn("hamming", hamming)
                 .filter(F.col("hamming") <= max_hamming)
                 .select("id_a", "id_b", "hamming"))


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 25
                         ) -> DataFrame:
    """Connected components by min-label propagation: every vertex ends
    with the SMALLEST vertex id in its component as ``label`` — the
    canonical-document assignment step after near-dup pair detection.

    Each iteration joins current labels across the (symmetrized) edge
    set and takes the min of own and neighbor labels; converges in
    O(component diameter) rounds — near-dup clusters are almost-cliques,
    so 2-4 rounds in practice, bounded by ``max_iter``. All built-in
    joins/aggregations (no driver-side graph), so the edge set may be
    arbitrarily large; each round is one shuffle on vertex id.
    localCheckpoint() per round truncates the lineage (an iterative plan
    otherwise grows exponentially and overwhelms Catalyst).
    """
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"),
                               F.col(src).alias("b"))))
    # materialize the edge set ONCE: its lineage is typically the
    # expensive pair-detection join, and every propagation round joins
    # against it — without this each round re-executes pair detection.
    # LAZY (r14): an eager checkpoint is its own job; lazy folds the
    # materialization into the first consuming job (round 1's count),
    # halving the per-round job count — same blocks, fewer scheduling
    # constants, which PERF_r13's ~1.0 scaling ratios showed IS the
    # residual cost of the iterative operators at this SF.
    sym = sym.localCheckpoint(eager=False)
    labels = (sym.select("a").union(sym.select(F.col("b").alias("a")))
              .distinct().select(F.col("a").alias("v"),
                                 F.col("a").alias("label")))
    labels = labels.localCheckpoint(eager=False)
    changed = 0
    for _ in range(max_iter):
        neigh = (sym.join(labels, sym.b == labels.v)
                 .groupBy("a").agg(F.min("label").alias("nlabel")))
        # convergence flag computed IN the round's own projection (r13
        # optimization: labels only ever DECREASE, so changed == new <
        # old) — the count below is then a filter over the checkpointed
        # partitions instead of a per-round labels-vs-new join+shuffle
        # (one exchange and one join fewer per round; results pinned
        # identical by d16/d38 oracles)
        new = (labels.join(neigh, labels.v == neigh.a, "left")
               .select(labels.v,
                       F.least(labels.label,
                               F.coalesce(F.col("nlabel"),
                                          labels.label)).alias("label"),
                       (F.coalesce(F.col("nlabel"), labels.label)
                        < labels.label).alias("__chg")))
        # lazy: the count() below IS the materializing job — one job
        # per round instead of checkpoint-then-count (r14)
        new = new.localCheckpoint(eager=False)
        changed = new.filter(F.col("__chg")).count()
        labels = new.select("v", "label")
        if changed == 0:
            break
    if changed != 0:
        # returning partially-propagated labels would silently report
        # one component as several clusters
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"rounds ({changed} labels still changing); raise max_iter "
            "for graphs with diameter beyond it")
    return labels


def simhash_md5_signatures(df: DataFrame, text_col: str, id_col: str,
                           bits: int = 16) -> DataFrame:
    """ENGINE-PORTABLE SimHash signatures: per-bit majority vote over
    md5-derived token hashes (h(t) = int of the first 15 hex chars of
    md5(t) — 60 bits, sign-safe in BIGINT on every engine). DISTINCT
    tokens vote (set semantics), so the signature is reproducible in
    plain SQL and oracle-checkable (d25); the pandas-UDF twin
    (simhash/simhash_near_pairs — also md5-derived, but bit-packed
    inside an Arrow batch, not SQL-expressible) stays the measured
    fast path and keeps the pair machinery. One
    shuffle: the explode + per-doc re-aggregation."""
    toks = (df.select(F.col(id_col),
                      F.explode(F.array_distinct(
                          F.split(normalize_text(F.col(text_col)), " ")))
                      .alias("tok"))
            .filter(F.col("tok") != ""))
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10) \
         .cast("bigint")
    votes = [F.sum(2 * F.shiftright(h, j).bitwiseAND(F.lit(1)) - 1)
             .alias(f"v{j}") for j in range(bits)]
    voted = toks.groupBy(id_col).agg(*votes)
    sig = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(0)
        sig = bit if sig is None else (sig + bit)
    return voted.select(F.col(id_col), sig.cast("bigint").alias("sig"))


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------

def incremental_dedup(new: DataFrame, corpus: DataFrame, text_col: str,
                      id_col: str, n: int = 3,
                      threshold: float = 0.8) -> DataFrame:
    """Admit only the rows of a NEW batch that survive dedup against an
    EXISTING corpus — the steady-state ingestion op of a production
    pipeline (the corpus is never re-deduped; only the delta is):

    1. exact within the batch: keep the min-id row per normalized-md5
       fingerprint;
    2. exact vs the corpus: anti-join on the fingerprint;
    3. near-dup vs the corpus: word-n-gram Jaccard >= threshold against
       any corpus doc drops the batch row (batch-internal near-dups are
       ngram_jaccard_pairs/minhash territory, intentionally out of
       scope here).

    Returns the surviving `new` rows with their original columns.

    Scale: the corpus side contributes only (fingerprint) and
    (shingle, id) streams — it is never self-joined and its text never
    moves. Every join is keyed on fingerprint/shingle with the batch
    side small by construction (a delta), so AQE broadcasts the batch
    side; corpus shingles a batch shingle never touches are dropped by
    the join's runtime filter. Jaccard here is exact (the same
    bucket-count shape as ngram_jaccard_pairs, batch x corpus instead
    of corpus x corpus)."""
    fp_new = fingerprint(new, text_col)
    keep = (fp_new.groupBy("fingerprint")
            .agg(F.min(id_col).alias(id_col)))
    s1 = fp_new.join(keep, [id_col, "fingerprint"], "left_semi")
    corpus_fp = (fingerprint(corpus, text_col)
                 .select("fingerprint").distinct())
    s2 = s1.join(corpus_fp, "fingerprint", "left_anti")

    # per-doc set sizes RIDE THE ONE EXPLODE of each side
    # (shingle_table with_size=True; r14 optimization round, guide
    # §2.3): the corpus-side gram build runs ONCE (the explode) instead
    # of twice (explode + row-local size scan), and the two size joins
    # disappear — the counts are carried through the intersection join
    # and group on the pair keys they are functionally dependent on.
    bs = (shingle_table(s2, text_col, id_col, n, with_size=True)
          .select(F.col(id_col).alias("__b_id"), "shingle",
                  F.col("n_sh").alias("__nb")))
    cs = (shingle_table(corpus, text_col, id_col, n, with_size=True)
          .select(F.col(id_col).alias("__c_id"), "shingle",
                  F.col("n_sh").alias("__nc")))
    inter = (bs.join(cs, "shingle")
             .groupBy("__b_id", "__c_id", "__nb", "__nc")
             .agg(F.count("*").alias("__inter")))
    dupped = (inter
              .filter(F.col("__inter") /
                      (F.col("__nb") + F.col("__nc") - F.col("__inter"))
                      >= threshold)
              .select(F.col("__b_id").alias(id_col)).distinct())
    return (s2.join(dupped, id_col, "left_anti")
            .drop("fingerprint"))
