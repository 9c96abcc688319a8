"""Deduplication operators over the documents table.

Four tiers, cheapest→strongest, all shuffle-architected for 100 TB:

- exact: hash-groupBy on an md5 fingerprint. One shuffle on a
  uniformly-distributed 128-bit key — no skew by construction.
- n-gram Jaccard: shingle → inverted-index self-join → pair counts.
  The join key is the shingle; frequent shingles are the skew risk, so
  ``max_shingle_df`` drops shingles appearing in more than N docs
  (standard inverted-index stop-shingle trick) before the join.
- MinHash + LSH: per-doc signature = min(md5(seed:shingle)) per seed;
  band-bucket join yields candidate pairs without the all-pairs blowup.
  md5 gives identical signatures in any engine (and any partitioning).
- SimHash: 16-bit signature from per-token md5-derived bits; hamming
  buckets for near-dup candidates.

Embedding-cosine near-dup lives in functions/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from riemann_spark.functions.text import fingerprint, tokens
from riemann_spark.operators.skew import spread_for_python

# Shared runaway-bucket caps (ADVICE r11): pair generation drops LSH band
# buckets / inverted-index shingle postings larger than this (quadratic
# pair volume in posting length).  EVERY consumer — the function defaults
# below, catalog queries that report cap transitions (e.g.
# band_index_compaction), and the DuckDB oracle templates — must reference
# these constants so a cap change can never silently diverge.
MAX_BAND_DF = 1000
MAX_SHINGLE_DF = 1000

# Winnowing-overlap defaults (MOSS lane).  winnowing_overlap_pairs'
# min_shared / max_fp_df defaults AND the stored-state param stamps in
# plans/catalog_ml.py (_winnowing_label_state / _winnowing_fp_state)
# reference these names, so changing a default here invalidates the
# stored labels instead of silently serving stale state (ADVICE r12).
WIN_MIN_SHARED = 2
WIN_MAX_FP_DF = 32


def _gram_array(col: str | Column, k: int) -> Column:
    """Positional (non-distinct) word k-gram array.

    The token array is BOUND through a single-element transform so the
    regex split evaluates ONCE per row — Catalyst does not CSE across
    higher-order functions (the bloom_hit_from_md5 lesson), so an
    unbound ``toks`` embedded at every ``element_at`` site re-split
    the document k times per gram: ~4·n_tokens regex splits per doc,
    ~20× the whole-expression cost at sf0.1."""
    c = tokens(col)

    def _grams(toks: Column) -> Column:
        # guard: Spark's sequence(0, -1) is DESCENDING, so short docs
        # need an explicit empty-array branch (mirrors the oracle's CASE)
        return F.when(
            F.size(toks) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - k),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j + 1) for j in range(k)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.get(F.transform(F.array(c), _grams), 0)


def shingles(col: str | Column = "text", k: int = 3) -> Column:
    """Distinct word k-gram shingles, space-joined."""
    return F.array_distinct(_gram_array(col, k))


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup groups: fingerprint → (n_docs, canonical id)."""
    return (
        spread_for_python(df).select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def _shingle_table(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    return spread_for_python(df).select(
        F.col(id_col).alias("doc"), F.explode(shingles(text_col, k)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = MAX_SHINGLE_DF,
    shingle_frame: DataFrame | None = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold.

    inverted-index self-join: pairs sharing ≥1 shingle → intersection
    counts → |A∩B| / (|A|+|B|−|A∩B|). Integer arithmetic until one
    final division — deterministic.

    ``max_shingle_df`` (default 1000) drops shingles appearing in more
    than N docs BEFORE the self-join — a shingle in D docs contributes
    D² join rows, so one hot shingle ("of the and") makes the join
    quadratic at corpus scale. Jaccard is then computed over the
    pruned shingle sets (sizes and intersections both exclude hot
    shingles — the standard stop-shingle semantics). Pass None to
    disable.

    Shape: ONE shuffle on shingle builds posting lists (collect_list
    per shingle — the inverted index, materialized for the query via
    persist); hot postings are dropped by length (the DF guard becomes
    a free ``size(docs) <= N`` filter, no separate frequency pass);
    candidate pairs explode from within-posting combinations — no
    self-join, no second shuffle of the shingle table. Posting lists
    are bounded by the guard (≤ max_shingle_df ids), so collect_list
    cannot blow an executor regardless of corpus size.

    ``shingle_frame``: optional precomputed (doc, shingle) table —
    pass a persisted one to share the shingle scan with a sibling
    pipeline (e.g. the LSH tier in dedup_recall_report)."""
    sh = (
        shingle_frame
        if shingle_frame is not None
        else _shingle_table(df, id_col, text_col, k)
    )
    posts = sh.groupBy("shingle").agg(F.sort_array(F.collect_list("doc")).alias("docs"))
    if max_shingle_df is not None:
        posts = posts.filter(F.size("docs") <= max_shingle_df)
    posts = posts.persist()
    # denominator sizes count every surviving shingle, singletons
    # included — only the pair generation skips one-doc postings
    sizes = (
        posts.select(F.explode("docs").alias("doc"))
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )
    ds = F.col("docs")
    pair_arr = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + F.lit(2), F.size(ds)),
                lambda y: F.struct(x.alias("d1"), y.alias("d2")),
            ),
        )
    )
    inter = (
        posts.filter(F.size("docs") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.d1").alias("doc1"), F.col("p.d2").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    s1 = sizes.select(F.col("doc").alias("doc1"), F.col("n_shingles").alias("n1"))
    s2 = sizes.select(F.col("doc").alias("doc2"), F.col("n_shingles").alias("n2"))
    # NO broadcast hint on the sizes frames: one row per document, i.e.
    # corpus-order at web scale — a forced broadcast would OOM the
    # driver.  These are narrow keyed joins on doc id; AQE broadcasts
    # at runtime when a side actually fits.
    return (
        inter.join(s1, "doc1")
        .join(s2, "doc2")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "n_inter", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    threshold: float,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = MAX_SHINGLE_DF,
    shingle_frame: DataFrame | None = None,
) -> DataFrame:
    """Directional near-dup detection: all pairs where either doc's
    shingle set is >= ``threshold`` CONTAINED in the other —
    c(A→B) = |A∩B| / |A|. Jaccard misses the asymmetric duplication
    that dominates real crawls (a wire story embedded in a longer
    page, a quoted post, a doc plus boilerplate): a 200-shingle doc
    fully inside a 4000-shingle page has Jaccard ~0.05 but
    containment 1.0. Broder's distinction (1997 §2) — resemblance vs
    containment — with the keep/flag decision downstream (usually:
    drop the contained doc, keep the container).

    Same inverted-index shape as ngram_jaccard_pairs (ONE shingle
    shuffle, stop-shingle guard bounds posting lists, pairs explode
    within postings) — only the final arithmetic differs: both
    directions computed from the same (n_inter, n1, n2) row, emitted
    once per unordered pair with c12/c21 columns. ``shingle_frame``
    injects a precomputed (doc, shingle) table (the shared-scan
    pattern ngram_jaccard_pairs already supports) — it must equal
    _shingle_table(df, id_col, text_col, k)."""
    sh = (
        shingle_frame
        if shingle_frame is not None
        else _shingle_table(df, id_col, text_col, k)
    )
    posts = sh.groupBy("shingle").agg(F.sort_array(F.collect_list("doc")).alias("docs"))
    if max_shingle_df is not None:
        posts = posts.filter(F.size("docs") <= max_shingle_df)
    posts = posts.persist()
    sizes = (
        posts.select(F.explode("docs").alias("doc"))
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )
    ds = F.col("docs")
    pair_arr = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + F.lit(2), F.size(ds)),
                lambda y: F.struct(x.alias("d1"), y.alias("d2")),
            ),
        )
    )
    inter = (
        posts.filter(F.size("docs") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.d1").alias("doc1"), F.col("p.d2").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    s1 = sizes.select(F.col("doc").alias("doc1"), F.col("n_shingles").alias("n1"))
    s2 = sizes.select(F.col("doc").alias("doc2"), F.col("n_shingles").alias("n2"))
    return (
        inter.join(s1, "doc1")
        .join(s2, "doc2")
        .withColumn("c12", F.col("n_inter") / F.col("n1"))
        .withColumn("c21", F.col("n_inter") / F.col("n2"))
        .filter(F.greatest("c12", "c21") >= threshold)
        .select("doc1", "doc2", "n_inter", "n1", "n2", "c12", "c21")
    )


def minhash_signatures(
    df: DataFrame,
    n_hashes: int = 8,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_frame: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: sig_i = min over shingles of the
    (i mod 4)-th disjoint 8-hex-char (32-bit) chunk of the (i div 4)-th
    salted md5 of the shingle (salt m = ``md5(str(m) || shingle)``,
    salt 0 unprefixed).

    Disjoint chunks of a strong hash are the standard cheap
    independent-hash family (same trick as the Bloom filter here), so
    ceil(n_hashes/4) md5s per (doc, shingle) feed all n_hashes ≤ 8
    "permutations" — still far cheaper than per-i salted md5s.  Each
    chunk is kept at 32 bits: a 16-bit chunk saturates on large
    shingle sets (a doc with ~2^16 distinct shingles hits the all-zero
    min with high probability), which makes large UNRELATED docs agree
    on signatures and floods the LSH bands with false candidate pairs
    exactly in the big-doc regime.  2^32 values keep the min
    collision-free far past any realistic per-doc shingle count.  Min
    over uniform fixed-width hex strings is the usual order statistic,
    cross-engine reproducible because md5 is.

    Shape: explode distinct shingles once, ≤2 scalar md5s per row,
    groupBy(doc) with n_hashes MIN aggregates over substrings.
    min() partial-aggregates map-side, so the shuffle carries one
    signature row per doc regardless of shingle count."""
    if n_hashes > 8:
        raise ValueError("n_hashes > 8 needs more than two md5s per shingle")
    n_md5 = (n_hashes + 3) // 4
    base = (
        shingle_frame
        if shingle_frame is not None
        else _shingle_table(df, id_col, text_col, k)
    )
    sh = (
        base
        .select(
            "doc",
            *[
                (
                    F.md5("shingle")
                    if m == 0
                    else F.md5(F.concat(F.lit(str(m)), F.col("shingle")))
                ).alias(f"h{m}")
                for m in range(n_md5)
            ],
        )
    )
    return sh.groupBy("doc").agg(
        *[
            F.min(F.substring(f"h{i // 4}", 8 * (i % 4) + 1, 8)).alias(f"sig{i}")
            for i in range(n_hashes)
        ]
    )


def minhash_bands(
    df: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_frame: DataFrame | None = None,
) -> DataFrame:
    """(doc, band) rows — each doc's LSH band keys (band_size
    consecutive MinHash sigs concatenated, prefixed by the band
    ordinal). This IS the LSH index: stored as a table, a later batch
    probes it without touching the indexed corpus (see
    incremental_lsh_pairs)."""
    sigs = minhash_signatures(
        df, n_hashes, k, id_col, text_col, shingle_frame=shingle_frame
    )
    n_bands = n_hashes // band_size
    return sigs.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[F.col(f"sig{b * band_size + j}") for j in range(band_size)],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    )


def minhash_band_array(
    col: str | Column = "text",
    n_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
) -> Column:
    """The doc's LSH band keys as a PURE per-row expression — the exact
    band strings ``minhash_bands`` emits (head-to-head-tested), with no
    explode/groupBy, so it runs where aggregations can't: stateless
    append-mode streams (an ingest-time near-dup probe against a stored
    band index is a stream-static join on ``explode(this)``) and plain
    ingest projections. sig_i = min over distinct shingles of the
    (i mod 4)-th 8-hex chunk of the (i div 4)-th salted md5 — the same
    two-md5 hash family as ``minhash_signatures`` (see its saturation
    note). Docs with no shingles (< k tokens) yield an EMPTY array,
    matching the grouped form where such docs contribute no rows.

    Shape: the per-shingle salted md5s bind ONCE via the
    single-element-transform trick (one k-gram build + n_md5 md5s per
    shingle per row — the grouped form's hash count exactly); each
    signature is then one substring traversal of the bound hash array.
    Everything stays in whole-stage codegen."""
    if n_hashes > 8:
        raise ValueError("n_hashes > 8 needs more than two md5s per shingle")
    n_md5 = (n_hashes + 3) // 4
    n_bands = n_hashes // band_size
    hashed = F.transform(
        shingles(col, k),
        lambda s: F.concat(
            *[
                F.md5(s) if m == 0 else F.md5(F.concat(F.lit(str(m)), s))
                for m in range(n_md5)
            ]
        ),
    )

    def _bands(hs: Column) -> Column:
        def sig(i: int) -> Column:
            return F.array_min(
                F.transform(
                    hs,
                    lambda h: F.substring(
                        h, 32 * (i // 4) + 8 * (i % 4) + 1, 8
                    ),
                )
            )

        sigs = [sig(i) for i in range(n_hashes)]
        return F.when(
            F.size(hs) > 0,
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[sigs[b * band_size + j] for j in range(band_size)],
                    )
                    for b in range(n_bands)
                ]
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.get(F.transform(F.array(hashed), _bands), 0)


def lsh_candidate_pairs(
    df: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_band_df: int | None = MAX_BAND_DF,
    shingle_frame: DataFrame | None = None,
) -> DataFrame:
    """LSH banding over MinHash signatures → candidate pairs.

    Docs agreeing on ANY band (band_size consecutive sigs concatenated)
    become a candidate. Pairs explode from within-bucket combinations —
    only colliding docs meet, never all pairs.

    ``max_band_df`` (default 1000) drops band buckets holding more than
    N docs BEFORE pair generation — mirroring ``ngram_jaccard_pairs``'s
    ``max_shingle_df``: a bucket of D docs contributes D² pairs, so a
    degenerate corpus (thousands of byte-identical documents) would
    make one bucket quadratic. Such runaway buckets are exact-duplicate
    clusters; the exact-fingerprint dedup lane already catches those
    without pair materialization. Pass None to disable.

    Shape: ONE shuffle on band builds the bucket posting lists
    (collect_list per band, bounded ≤ max_band_df ids so it cannot
    blow an executor); candidate pairs explode from within-posting
    ordered combinations; one distinct on (doc1, doc2) dedupes pairs
    colliding in several bands. No self-join, no second shuffle of
    the band table."""
    bands = minhash_bands(
        df, n_hashes, band_size, k, id_col, text_col,
        shingle_frame=shingle_frame,
    )
    posts = (
        bands.groupBy("band")
        .agg(F.sort_array(F.collect_list("doc")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    if max_band_df is not None:
        posts = posts.filter(F.size("docs") <= max_band_df)
    ds = F.col("docs")
    pair_arr = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + F.lit(2), F.size(ds)),
                lambda y: F.struct(x.alias("d1"), y.alias("d2")),
            ),
        )
    )
    return (
        posts.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.d1").alias("doc1"), F.col("p.d2").alias("doc2"))
        .distinct()
    )


def incremental_lsh_pairs(
    arrivals: DataFrame,
    lake_bands: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_band_df: int | None = MAX_BAND_DF,
    arrival_bands: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs TOUCHING an arrival batch against a STORED LSH
    band index — the true incremental posture: only the arrival docs
    are shingled/hashed (O(batch), never O(corpus)); the lake side is
    a (doc, band) table the previous run wrote (minhash_bands), probed
    band-keyed.  Pass ``arrival_bands`` (a stored (doc, band) table
    for the batch — the fingerprints an ingest pipeline computes ONCE
    and shares across every downstream consumer) to skip even the
    batch's shingling here; it must equal
    ``minhash_bands(arrivals, n_hashes, band_size, k, ...)`` — the
    equivalence is regression-tested (VERDICT r13 #5). Provably equals
    ``lsh_candidate_pairs(lake ∪ arrivals)`` restricted to pairs with
    an arrival endpoint: a full-corpus bucket's arrival-touching pairs
    are exactly {arrival × lake-in-bucket} ∪ {arrival × arrival
    in-bucket}, and the ``max_band_df`` guard is applied to the SAME
    full bucket size (stored postings + arrival postings), so the cap
    semantics match the from-scratch run bucket-for-bucket.

    Shape: one groupBy(band) on each side (the arrival side is
    batch-sized; the lake side is the stored index, bucketable by
    band at deploy so the re-read shuffles nothing), a band-keyed
    left join, bounded in-bucket pair explosion, one distinct."""
    a_bands = (
        arrival_bands
        if arrival_bands is not None
        else minhash_bands(arrivals, n_hashes, band_size, k, id_col, text_col)
    )
    lp = lake_bands.groupBy("band").agg(
        F.sort_array(F.collect_list("doc")).alias("ldocs")
    )
    ap = a_bands.groupBy("band").agg(
        F.sort_array(F.collect_list("doc")).alias("adocs")
    )
    j = ap.join(lp, "band", "left").select(
        "adocs",
        # empty-posting default typed from the arrival side, so the
        # function stays id-type agnostic like its siblings
        F.coalesce("ldocs", F.slice("adocs", 1, 0)).alias("ldocs"),
    )
    if max_band_df is not None:
        j = j.filter(F.size("adocs") + F.size("ldocs") <= max_band_df)
    ad, ld = F.col("adocs"), F.col("ldocs")
    cross = F.flatten(
        F.transform(
            ad,
            lambda x: F.transform(
                ld,
                lambda y: F.struct(
                    F.least(x, y).alias("d1"), F.greatest(x, y).alias("d2")
                ),
            ),
        )
    )
    within = F.flatten(
        F.transform(
            ad,
            lambda x, i: F.transform(
                F.slice(ad, i + F.lit(2), F.size(ad)),
                lambda y: F.struct(x.alias("d1"), y.alias("d2")),
            ),
        )
    )
    return (
        j.select(F.explode(F.concat(cross, within)).alias("p"))
        .select(F.col("p.d1").alias("doc1"), F.col("p.d2").alias("doc2"))
        # a re-crawled doc id present in BOTH the arrival batch and the
        # stored lake index makes least/greatest collapse to (x, x) —
        # a self-pair full-corpus lsh_candidate_pairs never emits
        .filter(F.col("doc1") != F.col("doc2"))
        .distinct()
    )


def _hex_nibble_bits(hexpos_char: Column, bit: int) -> Column:
    """bit ∈ {0..3} of a hex character via strpos + shift arithmetic
    (engine-portable: no float rounding anywhere)."""
    v = (F.instr(F.lit("0123456789abcdef"), hexpos_char) - 1).cast("int")
    return F.shiftright(v, bit) % 2


def simhash16(col: str | Column = "text") -> Column:
    """16-bit SimHash from token md5s.

    For each of 16 bit positions p (hex chars 1-4 of md5(token), 4 bits
    each): sum over tokens of ±1 by the token's bit → sign → bit p of
    the signature. Pure array/string ops, cross-engine exact. The
    hash array is BOUND through a single-element transform (the
    _gram_array discipline): the 16 per-bit vote aggregates read one
    materialized array instead of re-running tokenize+distinct+md5
    sixteen times per row."""
    toks = F.array_distinct(tokens(col))
    hashes = F.transform(toks, lambda t: F.substring(F.md5(t), 1, 4))

    def _sig(hs: Column) -> Column:
        out = F.lit(0)
        for p in range(16):
            char_idx = p // 4 + 1
            bit = p % 4
            votes = F.aggregate(
                hs,
                F.lit(0),
                lambda acc, h: acc
                + F.when(
                    _hex_nibble_bits(F.substring(h, char_idx, 1), bit) == 1, 1
                ).otherwise(-1),
            )
            out = out + F.when(votes > 0, F.lit(2 ** p)).otherwise(F.lit(0))
        return out

    return F.get(F.transform(F.array(hashes), _sig), 0)


def simhash_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """doc → 16-bit simhash via explode + scalar codegen + groupBy.

    Same values as ``simhash16`` (integer ±1 vote sums per bit, then
    sign), but the per-token bit extraction is flat scalar arithmetic
    inside WholeStageCodegen and the vote sums partial-aggregate
    map-side — measured ~6× faster than the per-row nested list folds
    at sf0.1, and the shuffle carries 16 ints per doc."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(tokens(text_col))).alias("t"),
    )
    h = F.substring(F.md5(F.col("t")), 1, 4)
    vote_cols = []
    for p in range(16):
        char_idx = p // 4 + 1
        bit = p % 4
        b = _hex_nibble_bits(F.substring(h, char_idx, 1), bit)
        vote_cols.append(F.sum(F.when(b == 1, 1).otherwise(-1)).alias(f"v{p}"))
    votes = toks.groupBy("doc").agg(*vote_cols)
    sig = None
    for p in range(16):
        term = F.when(F.col(f"v{p}") > 0, F.lit(2**p)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return votes.select("doc", sig.alias("simhash"))


def simhash_buckets(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """doc → 16-bit simhash + two 8-bit half-bands (candidate pairs =
    docs sharing either half, per the hamming-LSH construction).

    VERIFY-STAGE INPUT, not a dedup decision: on corpora whose token
    sets genuinely overlap, SimHash candidates over-generate by
    orders of magnitude (measured on the sf0.01 ε-corpus: ~20.8k
    candidate pairs against 28 exact-Jaccard pairs; the 64-bit tier's
    bigger bucket space still yields ~22.1k — set-similarity physics,
    not bucket-space physics). Always run a true-similarity verifier
    (minhash_verified_pairs / edit-distance tier) on the flagged
    pairs; dedup_tier_agreement is the report quantifying this
    over-generation against the exact and MinHash tiers."""
    t = simhash_table(spread_for_python(df), id_col, text_col)
    sh = F.col("simhash")
    return t.select(
        "doc",
        "simhash",
        F.shiftright(sh.cast("int"), 8).alias("band_hi"),
        (sh.cast("int") % 256).alias("band_lo"),
    )


def simhash64_bands(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """doc → four 16-bit bands of a 64-BIT SimHash — the scale path
    the 16-bit tier can't offer: simhash16's half-bands live in a
    FIXED 256-value space, so bucket occupancy (and candidate-pair
    volume) grows linearly (quadratically) with the corpus no matter
    how large it gets — dedup_tier_agreement measures that collapse.
    Four 16-bit bands give 65 536 buckets each (pigeonhole: any pair
    within hamming distance 3 of the 64-bit signature still collides
    on at least one band), so expected bucket occupancy stays O(n/64K)
    and the bucket join stays near-linear far past the 16-bit tier's
    ceiling.

    Same construction as simhash_table at 64 bits (hex chars 1-16 of
    md5(token), integer ±1 votes per bit, sign): explode distinct
    tokens, 64 map-side-combined vote sums per doc, band p of bit
    16b+p — flat scalar codegen, shuffle carries 64 ints per doc.
    Emits (doc, band) rows, band = 'ordinal|value' strings like
    minhash_bands, ready for the posting-list pair idiom or a stored
    band index.

    The wider bucket space fixes OCCUPANCY, not selectivity: like the
    16-bit tier this remains a VERIFY-STAGE INPUT (measured on the
    sf0.01 ε-corpus: ~22.1k candidates vs 28 exact pairs — the token
    sets really do overlap). Gate candidates through a true-similarity
    verifier; dedup_tier_agreement quantifies the over-generation."""
    toks = spread_for_python(df).select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(tokens(text_col))).alias("t"),
    )
    h = F.substring(F.md5(F.col("t")), 1, 16)
    vote_cols = []
    for p in range(64):
        char_idx = p // 4 + 1
        bit = p % 4
        b = _hex_nibble_bits(F.substring(h, char_idx, 1), bit)
        vote_cols.append(
            F.sum(F.when(b == 1, 1).otherwise(-1)).alias(f"v{p}")
        )
    votes = toks.groupBy("doc").agg(*vote_cols)
    band_vals = []
    for bnd in range(4):
        sig = None
        for p in range(16):
            term = F.when(
                F.col(f"v{bnd * 16 + p}") > 0, F.lit(2 ** p)
            ).otherwise(F.lit(0))
            sig = term if sig is None else sig + term
        band_vals.append(
            F.concat_ws("|", F.lit(str(bnd)), sig.cast("string"))
        )
    return votes.select("doc", F.explode(F.array(*band_vals)).alias("band"))


# ------------------------------------------------------------------ #
# duplicate-cluster formation (connected components)

#: Observability: rounds the most recent connected_components call ran
#: (driver-sequenced, so a plain module var is race-free per session).
#: SCALING.md's CC probes report it; alert on growth in production.
last_cc_rounds = 0
#: Per-round wall seconds of the most recent call (VERDICT r10 #7:
#: cluster-family wall variance is CC-round variance — this makes it
#: attributable). Timing a round = the driver-side cost of its two
#: star jobs + the signature screen; same race-free caveat.
last_cc_round_secs: list = []

#: Whether the most recent delta_components call converged on its
#: unrolled fast path (True) or fell back to the generic alternating-
#: star loop (False). The warm-start ×20 probes report it.
last_delta_fast_path = True


def delta_components(
    prior: DataFrame,
    pairs: DataFrame,
    src: str = "doc1",
    dst: str = "doc2",
    hops: int = 2,
) -> DataFrame:
    """Connected components of {prior star forest} UNION {delta
    pairs} — the warm-start fast path (VERDICT r12 #4). ``prior`` is
    the stored (doc, cluster) star table (cluster = component min, so
    every star has depth 1); ``pairs`` is the arrival batch's
    candidate pairs. Bit-equal to ``connected_components(star_edges
    UNION pairs)`` — same node set, same min-id labels — but never
    loops over the full graph:

    1. CONTRACT each pair endpoint to its prior representative (or
       itself if previously unclustered) — exact because stars are
       depth-1: every prior member follows wherever its
       representative's label moves.
    2. MIN-PROPAGATE labels ``hops`` times over the contracted merge
       graph, UNROLLED INTO ONE PLAN (one job, no per-round
       checkpoint/signature actions): one batch's merge components
       are chains of a few clusters, so diameter <= hops in practice.
    3. VERIFY the fixpoint with one more propagation step and a
       single limit(1) probe — the convergence assertion. If any
       label would still move (a merge chain deeper than ``hops``),
       FALL BACK to the generic alternating-star loop on the
       contracted graph (already far smaller than the input) —
       correctness never depends on the hop bound.
    4. RELABEL: prior members and their representatives follow the
       representative's new label; unlabeled endpoints take their
       component label (or stay singletons).

    Scale shape: node-keyed joins against the stored prior table
    (O(batch) probe side), shuffles sized by the CONTRACTED merge
    graph (|edges| <= |batch pairs|), and exactly three driver
    actions on the fast path regardless of graph shape — vs
    3 rounds x (checkpoint + signature) for the generic loop on the
    same input."""
    global last_delta_fast_path
    lab1 = prior.select(
        F.col("doc").alias(src), F.col("cluster").alias("__c1")
    )
    lab2 = prior.select(
        F.col("doc").alias(dst), F.col("cluster").alias("__c2")
    )
    # ONE eager materialization carries both the raw endpoints (the
    # node-set side) and the contracted edge (the label side) — the
    # caller does NOT need to checkpoint ``pairs`` itself when delta
    # components is its only consumer. Duplicate contracted edges are
    # harmless under min-propagation (and the fallback loop distincts
    # itself), so no distinct here. Self-pairs are dropped BEFORE the
    # endpoint set is taken (ADVICE r13 #4): a (a, a) pair on a
    # previously-unclustered doc is not an edge to
    # connected_components(star UNION pairs) — the generic loop
    # discards u == v — so it must not seed a singleton node here.
    comb = (
        pairs.select(src, dst)
        .where(F.col(src) != F.col(dst))
        .join(lab1, src, "left")
        .join(lab2, dst, "left")
        .select(
            src,
            dst,
            F.coalesce("__c1", src).alias("u"),
            F.coalesce("__c2", dst).alias("v"),
        )
        .localCheckpoint()
    )
    cg = comb.select("u", "v").where(F.col("u") != F.col("v"))
    sym = cg.union(cg.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def _prop(cur, out):
        # min over {self} ∪ {neighbors' labels}: one join + one
        # groupBy per hop (union-style — no second join back)
        return (
            sym.join(cur.withColumnRenamed("u", "v"), "v")
            .select("u", F.col(cur.columns[-1]).alias(out))
            .unionByName(cur.select("u", F.col(cur.columns[-1]).alias(out)))
            .groupBy("u")
            .agg(F.min(out).alias(out))
        )

    # hop 1: min over the direct neighborhood (and self); then
    # hops-1 propagation steps PLUS the probe step, all one plan —
    # the final two iterates join into one checkpoint so the
    # convergence probe is a near-free count over materialized rows
    lab = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("l0"))
    )
    for i in range(hops - 1):
        lab = _prop(lab, f"l{i + 1}")
    lab = lab.select(
        "u", F.col(f"l{hops - 1}").alias("l")
    ).localCheckpoint()
    # convergence probe over the CHECKPOINTED labels: one more
    # propagation step; any label that would still move means a merge
    # chain deeper than ``hops``
    moved = (
        _prop(lab, "l_probe")
        .join(lab, "u")
        .where(F.col("l_probe") < F.col("l"))
    )
    last_delta_fast_path = moved.limit(1).count() == 0
    if not last_delta_fast_path:
        lab = connected_components(cg, "u", "v").select(
            F.col("node").alias("u"), F.col("cluster").alias("l")
        )
    relab = lab.select(F.col("u").alias("__n"), F.col("l").alias("__l"))
    # node set must equal connected_components(star UNION pairs)':
    # endpoints of real star edges (a rep's self-row alone is NOT an
    # edge — the generic loop drops u == v) plus pair endpoints
    touched = (
        comb.select(F.col(src).alias("doc"))
        .union(comb.select(F.col(dst).alias("doc")))
        .distinct()
    )
    edges_prior = prior.where(F.col("doc") != F.col("cluster"))
    base = (
        edges_prior.unionByName(
            edges_prior.select(F.col("cluster").alias("doc"), "cluster")
        )
        .unionByName(prior.join(touched, "doc").select("doc", "cluster"))
        .distinct()
    )
    merged_prior = base.join(
        relab, base["cluster"] == relab["__n"], "left"
    ).select(
        F.col("doc").alias("node"),
        F.coalesce("__l", "cluster").alias("cluster"),
    )
    others = (
        touched.join(prior.select("doc"), "doc", "left_anti")
        .join(relab, F.col("doc") == F.col("__n"), "left")
        .select(
            F.col("doc").alias("node"),
            F.coalesce("__l", "doc").alias("cluster"),
        )
    )
    return merged_prior.unionByName(others)


def connected_components(
    pairs: DataFrame,
    src: str = "doc1",
    dst: str = "doc2",
    max_rounds: int = 25,
) -> DataFrame:
    """Group candidate pairs into duplicate clusters: connected
    components via the alternating large-star / small-star algorithm
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the standard shuffle-architected CC for graphs that
    don't fit one machine.

    Each round is two groupBy+join passes over the edge list; the edge
    set contracts toward stars (node → component minimum) in
    O(log^2 n) rounds — 2-3 in practice for near-dup graphs, whose
    components are small and dense. No per-component state ever sits
    on one task: every step is a keyed aggregate over the edge list,
    so a 100 TB pair set scales like any other shuffle. (Naive label
    propagation needs O(diameter) rounds and re-shuffles the full
    label table each round; the reference has no equivalent operator —
    this extends the dedup tier of the training-data pipeline.)

    Returns one row per node: (node, cluster) with cluster = min node
    id of the component. Deterministic for any orderable id type.
    Rounds are driver-sequenced (as in any iterative Spark algorithm);
    each round's work is fully distributed. Each round ends in
    ``localCheckpoint`` — iterative plans grow exponentially without
    lineage truncation (on a cluster with an unreliable-executor
    profile, swap for ``checkpoint()`` to a reliable dir).
    """
    global last_cc_rounds

    def _sig(df: DataFrame) -> tuple:
        # one shuffle-free job: (count, hash-sum) edge-set signature,
        # used as a cheap no-change screen before the exact check
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: ANSI mode would overflow a long hash-sum
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    e = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    nodes = e.select("u").union(e.select("v")).distinct().persist()
    nodes.count()
    prev_sig = _sig(e)

    import time as _time

    last_cc_round_secs.clear()
    for last_cc_rounds in range(1, max_rounds + 1):
        _t0 = _time.time()
        # large-star: for each node u, hang every larger neighbor off
        # m = min(neighborhood ∪ {u})
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least("u", "mv").alias("m"))
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient edges large→small, re-hang each small
        # neighborhood (and the center) off its minimum
        dir_ = large.select(
            F.greatest("u", "v").alias("big"), F.least("u", "v").alias("small")
        ).distinct()
        smins = dir_.groupBy("big").agg(F.min("small").alias("m"))
        hung = (
            dir_.join(smins, "big")
            .select(F.col("small").alias("u"), F.col("m").alias("v"))
            .union(smins.select(F.col("big").alias("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        sig = _sig(hung)
        if sig == prev_sig:
            # signatures match → almost surely converged; confirm with
            # the exact set compare once instead of every round
            same = (
                hung.exceptAll(e).limit(1).count() == 0
                and e.exceptAll(hung).limit(1).count() == 0
            )
            e = hung
            if same:
                last_cc_round_secs.append(round(_time.time() - _t0, 3))
                break
        else:
            e = hung
        prev_sig = sig
        last_cc_round_secs.append(round(_time.time() - _t0, 3))
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_rounds} rounds")

    # no unpersist: the returned plan still reads the checkpointed
    # blocks (truncated lineage cannot recompute them)
    return nodes.join(e, "u", "left").select(
        F.col("u").alias("node"), F.coalesce("v", "u").alias("cluster")
    )


# ------------------------------------------------------------------ #
# benchmark decontamination

def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/eval overlap detection — the GPT-3-style n-gram
    decontamination pass (Brown et al. 2020, app. C): flag every
    training doc sharing at least one word k-gram with the held-out
    benchmark set, with overlap counts for thresholding.

    Shape: the eval side is benchmark-sized (thousands of docs), so
    its shingle table broadcasts; the train side streams through a
    broadcast hash join keyed on shingle — no shuffle of the 100 TB
    side at all, and the output is one row per contaminated doc."""
    t = _shingle_table(train, id_col, text_col, k)
    e = _shingle_table(eval_df, id_col, text_col, k).select(
        F.col("doc").alias("eval_doc"), "shingle"
    )
    return (
        t.join(F.broadcast(e), "shingle")
        .groupBy("doc")
        .agg(
            F.countDistinct("shingle").alias("n_shared_grams"),
            F.countDistinct("eval_doc").alias("n_eval_docs"),
        )
    )


def duplicated_spans(
    df: DataFrame, k: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Substring-granular dedup signal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499 —
    public method): a token k-gram occurring at ≥2 positions anywhere
    in the corpus (another document OR a repeat within the same one)
    marks a duplicated span, the same property the paper's suffix
    array extracts for its 50-token threshold. Per-doc output:
    ``n_spans`` (k-gram positions), ``dup_spans`` (positions whose
    gram recurs), ``dup_frac``.

    Spark shape instead of a monolithic suffix array: positions are
    kept (posexplode — NOT the distinct shingle set), the per-gram
    occurrence count is a window over the gram partitioning, and the
    doc rollup reuses nothing wider than (doc, flag) — exactly two
    shuffles (gram, then doc), both map-side combinable at the rollup.
    No posting-list join-back, so a hot gram costs its row count, not
    its square."""
    g = spread_for_python(df).select(
        F.col(id_col).alias("doc"),
        F.posexplode(_gram_array(text_col, k)).alias("pos", "gram"),
    )
    w = Window.partitionBy("gram")
    flagged = g.select(
        "doc", (F.count(F.lit(1)).over(w) >= 2).cast("long").alias("dup")
    )
    return flagged.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("dup").alias("dup_spans"),
        (F.sum("dup").cast("double") / F.count(F.lit(1))).alias("dup_frac"),
    )


def minhash_verified_pairs(
    df: DataFrame,
    threshold: float,
    n_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH candidate pairs verified by TRUE shingle Jaccard.

    Band collisions are probabilistic evidence, not proof: a band
    false positive that flows unverified into connected components
    merges unrelated clusters, and every doc in the merged cluster
    except one gets dropped from the corpus. This is the verification
    stage that makes MinHash dedup safe to act on — candidates whose
    real Jaccard falls below ``threshold`` are discarded.

    Shape: candidates from the band-bucket join are id-only; each
    side then picks up its distinct-shingle set (one collect_set
    shuffle keyed by doc — set size is bounded by document length,
    never corpus size) and the intersection is computed per-pair with
    array_intersect inside codegen. No pair x shingle explosion.
    Catalyst prunes the two consumers into branch-specific aggregates
    (sigs for banding, sets for verification), so the corpus is read
    twice — scan-bound and embarrassingly parallel; at deploy scale
    the shingle explode can be persisted to trade executor storage
    for the second pass. Verified-pair output cost is |candidates|,
    which LSH already bounded."""
    # ONE (doc, shingle) table serves BOTH consumers (r15, VERDICT r14
    # #6): the banding/signature path (via shingle_frame pass-through)
    # and the verification sets. Unshared, the document scan + shingle
    # explode subtree was planned and computed twice per query.
    # Query-lifetime cache: the bench/driver clearCache() between
    # queries releases it.
    sh = _shingle_table(df, id_col, text_col, k).persist()
    cand = lsh_candidate_pairs(
        df, n_hashes, band_size, k, id_col, text_col, shingle_frame=sh
    )
    # persisted too: the doc1 and doc2 attachment joins below each
    # consume this table, and without the persist the collect_set
    # aggregation is planned (and computed) once PER SIDE — measured
    # as 2 extra document scans + Generates in the
    # dedup_pair_provenance plan (r14). The set table is O(corpus
    # docs), bounded per row by doc length.
    sets = (
        sh.groupBy("doc")
        .agg(F.collect_set("shingle").alias("sset"))
        .persist()
    )
    a = sets.select(F.col("doc").alias("doc1"), F.col("sset").alias("set1"))
    b = sets.select(F.col("doc").alias("doc2"), F.col("sset").alias("set2"))
    n_inter = F.size(F.array_intersect("set1", "set2"))
    n_union = F.size("set1") + F.size("set2") - n_inter
    return (
        cand.join(a, "doc1")
        .join(b, "doc2")
        .select(
            "doc1",
            "doc2",
            n_inter.cast("long").alias("n_inter"),
            (n_inter / n_union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_band_rows(
    df: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, band) rows from a PURE-PROJECTION MinHash — no groupBy,
    so it composes under streaming (an aggregation upstream of a
    stateful operator breaks append mode) and in any per-row context.
    Same chunked-md5 hash family as ``minhash_signatures``: sig_i =
    min over shingles of the (i mod 4)-th 32-bit hex chunk of the
    (i div 4)-th salted md5.

    Shape discipline, learned from a ×20 probe: all n_hashes minima
    come from ONE ``F.aggregate`` pass over the shingle array
    (zip_with/least over the chunks of each shingle's concatenated
    salted md5s — chunk i lives at hex offset 8i since
    32*(i//4) + 8*(i%4) == 8i), because Catalyst does NOT
    common-subexpression-eliminate across higher-order functions
    (they fall outside whole-stage codegen): one array_min(transform)
    per signature re-hashed every shingle n_hashes×2 times. The
    signature array is then materialized behind a Generate boundary
    (explode over the band-index sequence) so the per-band projection
    reads it as a bound attribute instead of re-evaluating the
    aggregate per band — tests assert the optimized plan carries
    exactly 2 md5 calls. Docs with fewer than k tokens have no
    shingles and are dropped, mirroring the batch sigs table."""
    if n_hashes > 8:
        raise ValueError("n_hashes > 8 needs more than two md5s per shingle")
    n_md5 = (n_hashes + 3) // 4
    sh = shingles(text_col, k)
    hs = F.transform(
        sh,
        lambda s: F.concat(
            *[
                F.md5(s) if m == 0 else F.md5(F.concat(F.lit(str(m)), s))
                for m in range(n_md5)
            ]
        ),
    )
    chunk_idx = F.sequence(F.lit(0), F.lit(n_hashes - 1))
    sig_arr = F.aggregate(
        hs,
        F.array_repeat(F.lit("g" * 8), n_hashes),  # 'g' sorts above hex
        lambda acc, h: F.zip_with(
            acc,
            F.transform(chunk_idx, lambda i: h.substr(i * 8 + 1, F.lit(8))),
            lambda a, b: F.least(a, b),
        ),
    )
    n_bands = n_hashes // band_size
    return (
        df.filter(F.size(sh) > 0)
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            sig_arr.alias("__sigs"),
        )
        .select(
            "doc_id",
            "__sigs",
            F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("__b"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                "|",
                F.col("__b").cast("string"),
                *[
                    F.get(F.col("__sigs"), F.col("__b") * band_size + j)
                    for j in range(band_size)
                ],
            ).alias("band"),
        )
    )


def winnowing_overlap_pairs(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    min_shared: int = WIN_MIN_SHARED,
    max_fp_df: int = WIN_MAX_FP_DF,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_frame: DataFrame | None = None,
) -> DataFrame:
    """Document pairs sharing winnowing fingerprints — the MOSS
    overlap detector (Schleimer et al. 2003 §5: index the selected
    fingerprints, report pairs by shared count). Position-robust
    where chunk-hash dedup is not: any shared run of >= k+w-1 tokens
    contributes a shared fingerprint regardless of where it sits in
    either document. Returns (doc1, doc2, n_shared, containment)
    where containment = n_shared / min(|fp₁|, |fp₂|).

    Shape: the ngram_jaccard_pairs posting-list discipline — ONE
    shuffle groups (doc, fp) into per-fingerprint postings;
    ``max_fp_df`` drops viral fingerprints by posting length before
    any pair explodes (a fp in D docs yields D² pairs), so postings
    are bounded and the candidate volume stays linear in shared
    content, never corpus²; sizes count surviving fps only (standard
    stop-fingerprint semantics).

    ``fp_frame`` injects a precomputed fingerprint table (id_col, fp
    — extra columns ignored), the stored-index serve path: a pipeline
    that materialized winnowing fingerprints once pays only the pair
    join per query, never re-fingerprinting the corpus."""
    from riemann_spark.functions import text as _text

    raw_fps = (
        _text.winnowing(df, k=k, w=w, id_col=id_col, text_col=text_col)
        if fp_frame is None
        else fp_frame
    )
    # collect_set dedups (doc, fp) inside the fp group, so the
    # posting build is ONE fp-keyed shuffle — the former standalone
    # .distinct() shuffled the whole fingerprint table a second time
    # on (doc, fp) first (r14 §13)
    fps = raw_fps.select(F.col(id_col).alias("doc"), "fp")
    posts = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_set("doc")).alias("docs"))
        .filter(F.size("docs") <= max_fp_df)
        .persist()
    )
    sizes = (
        posts.select(F.explode("docs").alias("doc"))
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_fp"))
    )
    ds = F.col("docs")
    pair_arr = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + F.lit(2), F.size(ds)),
                lambda y: F.struct(x.alias("d1"), y.alias("d2")),
            ),
        )
    )
    inter = (
        posts.filter(F.size("docs") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.d1").alias("doc1"), F.col("p.d2").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    s1 = sizes.select(F.col("doc").alias("doc1"), F.col("n_fp").alias("n1"))
    s2 = sizes.select(F.col("doc").alias("doc2"), F.col("n_fp").alias("n2"))
    return (
        inter.join(s1, "doc1")
        .join(s2, "doc2")
        .select(
            "doc1",
            "doc2",
            F.col("n_shared").cast("long").alias("n_shared"),
            (
                F.col("n_shared")
                / F.least("n1", "n2").cast("double")
            ).alias("containment"),
        )
    )


def cross_decontamination(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.5,
    n_hashes: int = 8,
    band_size: int = 2,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fuzzy eval-set decontamination: one keep/drop verdict row per
    TRAINING document, from MinHash-LSH candidate generation against
    the eval corpus verified by true shingle Jaccard.

    The n-gram contamination ops here flag shared shingles; this is
    the other standard guard (GPT-3 appx. C / PaLM-style fuzzy
    decontamination): a training doc is dropped when it is a NEAR
    DUPLICATE of any eval doc, not merely when it quotes one. LSH
    bands bound candidate generation (never train x eval all-pairs),
    and the exact-Jaccard verification stage keeps band false
    positives from deleting unrelated training data.

    Shape: both corpora get one signature row per doc (map-side MIN
    partial aggs); the band join broadcasts the EVAL side - eval sets
    are parameter-sized and scale-invariant, the training corpus
    never shuffles for candidacy. Verification joins candidate ids
    back to their distinct-shingle sets (collect_set keyed by doc,
    bounded by doc length) and intersects per pair inside codegen -
    no pair x shingle explosion. Output is linear in |train|: every
    training doc gets a row (keep = no verified match), so the result
    IS the decontaminated keep-list."""
    tsig = minhash_signatures(train, n_hashes, k, id_col, text_col)
    esig = minhash_signatures(eval_df, n_hashes, k, id_col, text_col)
    n_bands = n_hashes // band_size

    def _bands(sigs: DataFrame, name: str) -> DataFrame:
        return sigs.select(
            F.col("doc").alias(name),
            F.explode(
                F.array(
                    *[
                        F.concat_ws(
                            "|",
                            F.lit(str(b)),
                            *[
                                F.col(f"sig{b * band_size + j}")
                                for j in range(band_size)
                            ],
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("band"),
        )

    cand = (
        _bands(tsig, "doc")
        .join(F.broadcast(_bands(esig, "eval_doc")), "band")
        .select("doc", "eval_doc")
        .distinct()
    )
    tsets = (
        _shingle_table(train, id_col, text_col, k)
        .groupBy("doc")
        .agg(F.collect_set("shingle").alias("set1"))
    )
    esets = (
        _shingle_table(eval_df, id_col, text_col, k)
        .groupBy("doc")
        .agg(F.collect_set("shingle").alias("set2"))
        .withColumnRenamed("doc", "eval_doc")
    )
    n_inter = F.size(F.array_intersect("set1", "set2"))
    n_union = F.size("set1") + F.size("set2") - n_inter
    hits = (
        cand.join(tsets, "doc")
        .join(F.broadcast(esets), "eval_doc")
        .select("doc", (n_inter / n_union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval_matches"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
    )
    return (
        train.select(F.col(id_col).alias("doc"))
        .join(hits, "doc", "left")
        .select(
            "doc",
            F.coalesce("n_eval_matches", F.lit(0)).cast("long").alias("n_eval_matches"),
            "max_jaccard",
            F.col("max_jaccard").isNull().alias("keep"),
        )
    )
