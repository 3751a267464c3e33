"""Deduplication operators for training-data pipelines (SURVEY §2.G).

All hashing is engine-portable (md5-derived 32-bit integers) so results
are deterministic and oracle-checkable — no reliance on engine-internal
hash functions.

Scale design:

- Exact dedup = groupBy(content key) keeping min(id): one shuffle on the
  content hash; at 100 TB group by ``md5(text)`` (fixed width) rather than
  the raw text to keep shuffle rows narrow.
- MinHash: shingle → hash → per-doc signature (one explode + one groupBy),
  band keys → candidate pairs via equi-join on band key. Never an O(n²)
  cross product; the band join's fan-out is controlled by band size, and
  AQE skew-join splits hot buckets.
- SimHash: token hash → 32 weighted bit sums per doc (single aggregation),
  pairs via banded prefix join (here: exact 16-bit prefix buckets) +
  hamming filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERSENNE = 2_147_483_647  # 2^31 - 1

#: fixed affine minhash parameters (a, b) — shared with the SQL oracle
MINHASH_PARAMS: list[tuple[int, int]] = [
    (1, 7), (2, 13), (3, 31), (5, 61), (7, 127), (11, 251), (13, 509), (17, 1021),
]


def hash32(col: Column) -> Column:
    """Portable 32-bit string hash: first 8 hex digits of md5."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def word_shingles(text: Column, n: int = 3) -> Column:
    """n-word shingles of a whitespace-tokenized text column.

    PERF: callers on a hot path should materialize the word array as its
    own projected column and call ``_shingles_of_words`` on the column
    reference — higher-order lambdas are interpreted (no codegen / common
    subexpression elimination), so a ``split()`` expression referenced
    inside the lambda re-tokenizes the text per element (~7× slower
    measured at sf0.1). ``slice`` beats k × ``element_at`` for the same
    reason. Docs with fewer than n words yield an empty array.
    """
    w = F.split(text, " ")
    return _shingles_of_words(w, n)


def _shingles_of_words(w: Column, n: int) -> Column:
    # explicit empty for short docs: sequence(1, 0) would DESCEND ([1, 0])
    idx = F.when(
        F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i, n)))


def _check_names(*names: str) -> None:
    """Reject column names the parsed-SQL builders below cannot quote: they
    splice each name into backticks, so a backtick breaks the parse and a
    dotted name would read as one literal column, not a struct field."""
    for name in names:
        if not name.isidentifier():
            raise ValueError(f"column name {name!r} must be a plain identifier")


def minhash_signature_df(docs: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Per-doc minhash signature columns m0..m7, computed ENTIRELY
    map-side: shingle array → hash array → array_min over each affine
    transform. Zero shuffle — the signature fuses with the scan, which is
    the whole game at 100 TB (the alternative, explode + groupBy(doc),
    shuffles one row per shingle: ~150× the document count; measured
    equal-or-faster warm and 3× faster cold at sf0.1). Each stage is its
    own projection so the interpreted HOF lambdas (no CSE) never
    recompute upstream arrays per element. Bounded by one doc's shingle
    array per row — fine for any document that fits in a row."""
    _check_names(id_col, text_col)
    # r16: every stage is ONE parsed selectExpr string — the Column build
    # cost ~2,200 py4j round-trips (~0.3 s driver time per signature
    # build, profiled); the parsed plans are canonically IDENTICAL
    # (pinned by tests/test_dedup_build.py)
    w = docs.selectExpr(f"`{id_col}`", f"split(`{text_col}`, ' ') AS __w__")
    # Shingle-LESS docs (under n words — empty docs and ultra-short docs)
    # are DROPPED, not signed: array_min over an empty hash array is
    # NULL, so every such doc would get the identical all-NULL signature,
    # band into one bogus mega-bucket, and pair with every other evidence-
    # free doc (round-6 bug, found by the text-shape regime: 2344 vs 804
    # candidate pairs on a corpus with empty docs). No shingles = no
    # similarity evidence = no candidacy — the same hygiene rule already
    # applied to NULL bodies, and what the SQL oracle's GROUP BY does
    # naturally (zero shingle rows -> no signature row).
    # The guard tests the WORD count, not size(shingles): predicate
    # pushdown inlines the filtered expression into the condition, and
    # re-evaluating the shingle-building lambda per row doubled the
    # signature stage's cost (measured 1.44 -> 2.52 s at sf0.1); a
    # re-split of the text is noise by comparison.
    w = w.filter(F.size("__w__") >= n)
    sh = w.selectExpr(
        f"`{id_col}`",
        f"transform(CASE WHEN size(__w__) >= {n} "
        f"THEN sequence(1, size(__w__) - {n - 1}) "
        f"ELSE CAST(array() AS array<int>) END, "
        f"i -> concat_ws(' ', slice(__w__, i, {n}))) AS __sh__",
    )
    hashes = sh.selectExpr(
        f"`{id_col}`",
        "transform(__sh__, s -> "
        "CAST(conv(substring(md5(s), 1, 8), 16, 10) AS bigint)) AS __h__",
    )
    mins = [
        f"array_min(transform(__h__, h -> ({a} * h + {b}) % {MERSENNE})) AS m{j}"
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return hashes.selectExpr(f"`{id_col}`", *mins)


def minhash_band_keys(sig: DataFrame, id_col: str, rows_per_band: int = 4) -> DataFrame:
    """Banded signature → (id, band_idx, band_key) rows."""
    n_bands = len(MINHASH_PARAMS) // rows_per_band
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)]
        bands.append(
            F.struct(F.lit(b).alias("band_idx"), F.md5(F.concat_ws(",", *cols)).alias("band_key"))
        )
    return sig.select(id_col, F.explode(F.array(*bands)).alias("bk")).select(
        id_col, F.col("bk.band_idx").alias("band_idx"), F.col("bk.band_key").alias("band_key")
    )


#: buckets larger than this leave the single-row pair expansion and take
#: the block-decomposed path; 256 ids -> at most ~32k pair structs in one
#: array value, well inside a task's comfort zone.
MAX_BUCKET = 256
#: block width for quarantined buckets: each block-pair row expands at
#: most CHUNK² pairs (16k), regardless of bucket size.
CHUNK = 128


def _in_array_pairs_sql(arr: str) -> str:
    """SQL text: array<struct<doc_a, doc_b>> of all a<b pairs from a
    SORTED id array. Parsed-string form (r16): the Column/lambda build of
    these nested HOFs cost hundreds of py4j round-trips per call site;
    the parsed plan is canonically identical (tests/test_dedup_build.py)."""
    return (
        f"flatten(transform({arr}, (x, i) -> "
        f"transform(slice({arr}, i + 2, size({arr})), "
        f"y -> struct(x AS doc_a, y AS doc_b))))"
    )


def _cross_array_pairs_sql(a: str, b: str) -> str:
    """SQL text: array<struct<doc_a, doc_b>> — full cross of two arrays."""
    return (
        f"flatten(transform({a}, x -> "
        f"transform({b}, y -> struct(x AS doc_a, y AS doc_b))))"
    )


def bucket_pairs(
    buckets: DataFrame,
    ids_col: str = "ids",
    max_bucket: int = MAX_BUCKET,
    chunk: int = CHUNK,
) -> DataFrame:
    """All unordered in-bucket pairs (doc_a < doc_b; ``ids_col`` must be
    sorted ascending) with a HOT-BUCKET QUARANTINE.

    Healthy LSH/prefix buckets are small, and the fast path materializes a
    bucket's k(k-1)/2 pairs as one array value in one task. But
    boilerplate-heavy web corpora produce hot buckets — thousands of
    near-identical docs sharing a band key — and a single-row quadratic
    expansion is then one unsplittable task (AQE splits partitions, not
    rows) holding an O(k²) array in memory: the one 100-TB scale killer in
    the dedup family.

    Buckets over ``max_bucket`` are quarantined into a block-decomposed
    path: the id array is cut into ⌈k/chunk⌉ blocks, one row per block
    pair (i ≤ j) is exploded, those rows are SHUFFLED across tasks, and
    each expands at most chunk² pairs. Work and memory per task are
    bounded by chunk² however large the bucket; the pair set is identical
    to the fast path's (block diagonal = in-block a<b pairs, off-diagonal
    = full cross, disjoint ascending ranges keep doc_a < doc_b).

    Output is NOT distinct — callers dedupe across bands as before.
    """
    _check_names(ids_col)
    n = F.size(ids_col)
    small = buckets.filter(n <= max_bucket)
    big = buckets.filter(n > max_bucket)

    small_pairs = small.selectExpr(
        f"explode({_in_array_pairs_sql(f'`{ids_col}`')}) AS p"
    ).select("p.doc_a", "p.doc_b")

    m_sql = f"CAST(CEIL(size(`{ids_col}`) / {chunk}) AS INT)"
    block_pairs_sql = (
        f"flatten(transform(sequence(0, {m_sql} - 1), "
        f"ci -> transform(sequence(ci, {m_sql} - 1), "
        f"cj -> struct(ci AS ci, cj AS cj))))"
    )
    blocks = big.selectExpr(
        f"`{ids_col}` AS __ids__", f"explode({block_pairs_sql}) AS cp"
    )
    # the shuffle IS the quarantine: without it every block row of a hot
    # bucket stays in the task that built the bucket and expands serially
    blocks = blocks.repartition(F.xxhash64("__ids__"), F.col("cp"))
    # A/B projected before the pair HOF: interpreted lambdas have no CSE
    ab = blocks.selectExpr(
        f"slice(__ids__, cp.ci * {chunk} + 1, {chunk}) AS A",
        f"slice(__ids__, cp.cj * {chunk} + 1, {chunk}) AS B",
        "(cp.ci = cp.cj) AS diag",
    )
    big_pairs = ab.selectExpr(
        f"explode(CASE WHEN diag THEN {_in_array_pairs_sql('A')} "
        f"ELSE {_cross_array_pairs_sql('A', 'B')} END) AS p"
    ).select("p.doc_a", "p.doc_b")

    return small_pairs.unionAll(big_pairs)


def cross_bucket_pairs(
    buckets: DataFrame,
    a_col: str,
    b_col: str,
    max_bucket: int = MAX_BUCKET,
    chunk: int = CHUNK,
) -> DataFrame:
    """All cross pairs A×B from two per-bucket id arrays (e.g. the
    old-corpus/new-shard split of incremental dedup), with the same
    hot-bucket quarantine as :func:`bucket_pairs`: buckets where either
    side exceeds ``max_bucket`` are block-decomposed and shuffled so no
    task expands more than chunk² pairs. Output is NOT distinct."""
    _check_names(a_col, b_col)
    hot = (F.size(a_col) > max_bucket) | (F.size(b_col) > max_bucket)
    small = buckets.filter(~hot)
    big = buckets.filter(hot)

    small_pairs = small.selectExpr(
        f"explode({_cross_array_pairs_sql(f'`{a_col}`', f'`{b_col}`')}) AS p"
    ).select("p.doc_a", "p.doc_b")

    ma_sql = f"CAST(CEIL(size(`{a_col}`) / {chunk}) AS INT)"
    mb_sql = f"CAST(CEIL(size(`{b_col}`) / {chunk}) AS INT)"
    block_pairs_sql = (
        f"flatten(transform(sequence(0, {ma_sql} - 1), "
        f"ci -> transform(sequence(0, {mb_sql} - 1), "
        f"cj -> struct(ci AS ci, cj AS cj))))"
    )
    blocks = big.selectExpr(
        f"`{a_col}` AS __a__",
        f"`{b_col}` AS __b__",
        f"explode({block_pairs_sql}) AS cp",
    ).repartition(F.xxhash64("__a__"), F.xxhash64("__b__"), F.col("cp"))
    ab = blocks.selectExpr(
        f"slice(__a__, cp.ci * {chunk} + 1, {chunk}) AS A",
        f"slice(__b__, cp.cj * {chunk} + 1, {chunk}) AS B",
    )
    big_pairs = ab.selectExpr(
        f"explode({_cross_array_pairs_sql('A', 'B')}) AS p"
    ).select("p.doc_a", "p.doc_b")

    return small_pairs.unionAll(big_pairs)


def band_pairs(bands: DataFrame, id_col: str) -> DataFrame:
    """Candidate pairs from band keys WITHOUT a self-join: group each
    (band_idx, band_key) bucket, then explode in-bucket pairs.

    A self-join of the derived band table re-executes the whole
    shingle→hash→groupBy pipeline for both sides (Catalyst does not reuse
    the exchange across join sides here); this formulation computes the
    signature once and needs a single shuffle. Hot buckets (boilerplate-
    heavy corpora) are quarantined into :func:`bucket_pairs`' bounded
    block path. Output columns: doc_a < doc_b, distinct across bands.
    """
    buckets = (
        bands.groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return bucket_pairs(buckets).distinct()


def connected_components(
    pairs: DataFrame, a_col: str, b_col: str, max_iters: int = 50
) -> DataFrame:
    """Min-label connected components over an undirected pair list:
    (node, component) where component = smallest node id reachable.

    The dedup end-game (candidate pairs → duplicate clusters → keep one
    canonical doc per cluster). Iterative label propagation: each round,
    every node takes the min of its own label and its neighbors'; stops
    at fixpoint. Near-dup graphs converge in a few rounds (components are
    small and star-shaped); the driver loop only checks a changed-count
    per round — no data is collected. At extreme component diameters use
    the large-star/small-star variant with checkpointing; the loop shape
    is identical.
    """
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .union(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
    )
    labels = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        updated = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["u"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias("label"),
                (F.col("nmin") < F.col("label")).alias("__chg__"),
            )
        )
        updated = updated.localCheckpoint(eager=True)  # cut the iterative lineage
        changed = updated.filter(F.col("__chg__")).count()
        labels = updated.drop("__chg__")
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))


def simhash32(tokens_hashed: Column) -> Column:
    """32-bit simhash from an array of 32-bit token hashes: bit i is set if
    the +1/-1 vote over that bit across tokens is positive."""
    def vote_fn(i: int):
        # two-arg lambda required by F.aggregate; bind i via factory
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bits = []
    for i in range(32):
        vote = F.aggregate(tokens_hashed, F.lit(0).cast("long"), vote_fn(i))
        bits.append(F.when(vote > 0, F.lit(2 ** i).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out
