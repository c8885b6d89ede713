"""LSH banding + candidate-pair generation.

Replaces the reference's remote-search candidate generation
(app/wlo_client.py:237-418) with corpus-self LSH: the MinHash signature is
split into b bands of r rows (b*r = num_hashes); each band is hashed to a
bucket key; documents sharing any (band_id, band_hash) bucket become
candidate pairs — the classic explode + groupBy plan from the north-star
spec. The norm_url group-join reproduces the reference's URL-exact
short-circuit (app/hash_detector.py:249-266) and doubles as a recall
backstop.

Scale design (the part that must survive 100 TB):
- banding carries ONLY (url, band_id, band_hash) through the shuffle — the
  wide minhash/shingle arrays never leave the signatures table (verification
  joins them back by key).
- band_hash is a native xxhash64 over the array slice: whole-stage codegen,
  no Python.
- pair emission is ONE groupBy collect_set per key with NATIVE in-group
  expansion (no self-join): all pairs for groups <= cap via a codegen
  transform/flatten; star edges around the group-min member for hot
  (boilerplate) groups — O(n) edges, cluster connectivity preserved; a pair
  missed inside one hot band has b-1 other bands plus the norm_url group.
  Hot keys come from a count pre-pass whose above-cap result is tiny and
  broadcast.
- `a < b` canonicalization + one dedup pass before verification mirrors the
  reference's seen-id dedup (app/hash_detector.py:290-293) and keeps the
  expensive scoring stage minimal (SURVEY §4 "dedup before scoring").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dedup.config import DedupConfig

# all-pairs expansion over the sorted members of one group: (i, j) with i < j
_PAIR_EXPANSION = (
    "flatten(transform(us, (x, i) -> "
    "transform(slice(us, i + 2, size(us) - i - 1), y -> struct(x as a, y as b))))"
)
# payload variant: members are structs (url, _pl); pairs carry both payloads
_PAIR_EXPANSION_PAYLOAD = (
    "flatten(transform(us, (x, i) -> "
    "transform(slice(us, i + 2, size(us) - i - 1), "
    "y -> struct(x.url as a, y.url as b, x._pl as pa, y._pl as pb))))"
)


def _join_on_keys(big: DataFrame, small: DataFrame, key_cols: list[str],
                  how: str, broadcast: bool = True) -> DataFrame:
    """Join `small` onto `big` by key_cols with NULL-SAFE equality
    (a USING join never matches null keys; the unified key table carries
    exactly-one-of (gk_band, gk_url), so every row has a null key column).
    `broadcast=True` hints the small side (hot-key tables are tiny by
    construction); `broadcast=False` leaves the strategy to the planner +
    AQE for sides whose size is corpus-dependent."""
    sm = small.select(*[F.col(k).alias(f"__k_{k}") for k in key_cols],
                      *[c for c in small.columns if c not in key_cols])
    cond = None
    for k in key_cols:
        c = F.col(k).eqNullSafe(F.col(f"__k_{k}"))
        cond = c if cond is None else cond & c
    right = F.broadcast(sm) if broadcast else sm
    return big.join(right, cond, how).drop(
        *[f"__k_{k}" for k in key_cols])


def pairs_within_groups(members: DataFrame, key_cols: list[str],
                        cap: int, member_col: str = "url",
                        keep_keys: bool = False,
                        payload_col: str | None = None,
                        track_hot_keys: bool = False):
    """(key..., member) -> (a, b) pairs within each key group, skew-aware.

    Groups with <= cap members emit all pairs via native expansion; hot
    groups emit star edges around their min member (connectivity-
    preserving). Output is NOT deduplicated across keys. With `keep_keys`,
    the key columns ride along on every pair (callers aggregate them to
    label pair provenance). Null key values form their own groups (null-safe
    joins throughout).

    Building the plan runs one action on batch input: a count() of the
    above-cap (hot) keys, which materializes the checkpointed key and
    count tables below and skips the whole hot subplan when it reads 0.
    With `track_hot_keys`, returns the TUPLE (pairs, n_hot) — n_hot is
    that count, the caller's capped-bucket observability number (None on
    streaming input, which cannot probe). Nothing is persisted for it. An
    explicit tuple, not an attribute on the DataFrame: an attribute
    silently vanishes on the first .where/.select a caller applies (that
    exact bug broke the engine-mode pipeline in round 5).

    With `payload_col`, each member carries one scalar payload through the
    expansion and every emitted pair exposes both sides as (pa, pb) — this
    lets callers apply pair-level prefilters (e.g. the engine's SimHash
    Hamming gate) INSIDE the same codegen stage, before the raw pair rows
    ever reach a shuffle/aggregation. Member ordering and dedup semantics
    are unchanged: a url maps to exactly one payload, so sorting/distinct
    over (url, payload) structs equals sorting/distinct over urls.

    Shuffle budget (r6 restructure — see OPTIMIZATION_r06.md): ONE slim
    count aggregation over (key, partial-count) pairs after map-side
    combine classifies every key as singleton (n == 1, the vast majority
    — they can never emit a pair), cold-multi (1 < n <= cap) or hot
    (n > cap). Only rows of COLD-MULTI keys reach the expensive
    collect_set aggregation — previously every singleton key built a
    one-element set through the ObjectHashAggregate, which profiling
    showed was the dominant p2 cost (guide §2.3 "aggregate before you
    shuffle" / don't compute things you throw away). The eligible-key
    join is deliberately un-hinted: AQE broadcasts the eligible side at
    bench scale and falls back to a shuffle join when the multi-key set
    is corpus-sized; hot-key joins stay explicitly broadcast (tiny by
    construction).

    r6: the key/member table is also MATERIALIZED once (localCheckpoint,
    lazy) before fan-out. The physical plan references it from four
    subplans (count pre-pass, cold branch, hot branch, hot-center
    aggregation), and without materialization each reference re-derives
    the full key emission — for candidate_pairs that meant re-running
    the signatures-scan + key-explode Generate up to six times per run
    (measured: the r5 p2 plan held 6 MapInPandas subtrees).
    localCheckpoint rather than persist() so the blocks are reclaimed by
    the ContextCleaner when the plan is GC'd instead of pinning the SQL
    CacheManager across pipeline runs; the lost-executor recompute trade
    is the one cluster.py already takes."""
    cols = [*key_cols, F.col(member_col).alias("url")]
    if payload_col is not None:
        cols.append(F.col(payload_col).alias("_pl"))
    m = members.select(*cols)
    if not m.isStreaming:
        m = m.localCheckpoint(eager=False)
    counts = m.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    if not members.isStreaming:
        # materialized as well: the count table feeds THREE branches
        # (eligible join, hot join, hot centers), and attribute
        # deduplication across the self-referencing branches defeats
        # exchange reuse, so without this the slim aggregation re-runs
        # once per branch (observed in the r6 profiling plan)
        counts = counts.localCheckpoint(eager=False)
    hot_keys = (counts.where(F.col("n") > cap).drop("n")
                .withColumn("_hot", F.lit(True)))
    # keys that can emit cold all-pairs: more than one member row, not hot
    eligible = counts.where((F.col("n") > 1) & (F.col("n") <= cap)).drop("n")

    member_expr = (F.struct("url", "_pl") if payload_col is not None
                   else F.col("url"))
    expansion = (_PAIR_EXPANSION_PAYLOAD if payload_col is not None
                 else _PAIR_EXPANSION)
    pair_cols = (["p.a", "p.b", "p.pa", "p.pb"]
                 if payload_col is not None else ["p.a", "p.b"])
    cold_src = _join_on_keys(m, eligible, key_cols, "inner", broadcast=False)
    cold_groups = (cold_src
                   .groupBy(*key_cols)
                   .agg(F.sort_array(F.collect_set(member_expr)).alias("us"))
                   .where(F.size("us") > 1))
    cold_pairs = (cold_groups
                  .select(*key_cols,
                          F.explode(F.expr(expansion)).alias("p"))
                  .select(*key_cols, *pair_cols))

    # Hot keys are the rare case (zero at typical bench scale); one count
    # over the already-materialized counts skips the entire hot subplan
    # (two more scans of m + a min aggregation) when there are none — the
    # same data-dependent gate discipline cluster.py's driver threshold
    # uses — and is the capped-bucket count callers record. count() ran
    # one job fewer than limit(1).count() on synth_dense (3 against 4).
    # Streaming inputs cannot probe and keep both branches.
    n_hot = None if members.isStreaming else hot_keys.count()
    if n_hot != 0:
        hot = _join_on_keys(m, hot_keys, key_cols, "inner").drop("_hot")
        if payload_col is not None:
            # min over (url, payload) structs == min url (payload is a
            # pure function of the url)
            hot_centers = (hot.groupBy(*key_cols)
                           .agg(F.min(F.struct("url", "_pl")).alias("_c"))
                           .select(*key_cols, F.col("_c.url").alias("a"),
                                   F.col("_c._pl").alias("pa")))
            hot_pairs = (_join_on_keys(hot, hot_centers, key_cols, "inner")
                         .where(F.col("url") != F.col("a"))
                         .select(*key_cols, "a", F.col("url").alias("b"),
                                 "pa", F.col("_pl").alias("pb")))
        else:
            hot_centers = hot.groupBy(*key_cols).agg(F.min("url").alias("a"))
            hot_pairs = (_join_on_keys(hot, hot_centers, key_cols, "inner")
                         .where(F.col("url") != F.col("a"))
                         .select(*key_cols, "a", F.col("url").alias("b")))
        out = cold_pairs.unionByName(hot_pairs)
    else:
        out = cold_pairs
    keep = ([*key_cols] if keep_keys else []) + ["a", "b"] + \
        (["pa", "pb"] if payload_col is not None else [])
    result = out.select(*keep)
    return (result, n_hot) if track_hot_keys else result


GROUP_KEY_COLS = ["gk_band", "gk_url", "gk_txt"]


def key_rank_col():
    """Provenance rank of one unified-key row: 0 url exact (short-circuit),
    1 minhash band, 2 title key, 3 description-prefix key."""
    return (F.when(F.col("gk_url").isNotNull(), F.lit(0))
            .when(F.col("gk_band").isNotNull(), F.lit(1))
            .when(F.col("gk_txt").startswith("t:"), F.lit(2))
            .otherwise(F.lit(3)))


def match_source_from_rank(rank_col):
    """Inverse of key_rank_col for labeling aggregated candidates."""
    return (F.when(rank_col == 0, F.lit("url_exact"))
            .when(rank_col == 1, F.lit("lsh"))
            .when(rank_col == 2, F.lit("title"))
            .otherwise(F.lit("description")))


def unified_group_keys(signatures: DataFrame, cfg: DedupConfig,
                       with_simhash: bool = False) -> DataFrame:
    """(url, gk_band BIGINT?, gk_url STRING?, gk_txt STRING?): ALL blocking
    keys in one scan, exactly one of the three columns non-null per row.

    Band keys are ONE xxhash64 over (band_id, band slice) — an 8-byte
    shuffle key instead of the ~24-byte '<band>:<hash>' string concat (a
    band key is already a hash, so folding the band id into it is free;
    cross-band collisions are 2^-64 and land in the verify stage anyway).
    Normalized-URL keys stay EXACT strings in their own column — never
    hashed, so a url_exact pair can never be a hash collision — and exist
    for every document incl. signature-less ones.

    gk_txt carries the metadata blocking keys when the signatures table has
    them (title/normalized-title as 't:<key>', description prefix as
    'd:<key>' — the reference's title and description-prefix candidate
    searches, app/wlo_client.py:265-311): the kind prefix keeps title and
    description key spaces disjoint inside one column, so one grouped
    pair-emission pass still covers every key family.

    `with_simhash` appends the doc's simhash to every key row (8 bytes) so
    the engine's Hamming gate can run inside the pair expansion without a
    join back to the signatures table; the persisted key index keeps the
    slim schema."""
    b, r = cfg.lsh_bands, cfg.lsh_rows
    has_txt = "title_keys" in signatures.columns
    mk = ("struct({band} AS gk_band, {url} AS gk_url, {txt} AS gk_txt)"
          .format)
    null_b = "CAST(NULL AS BIGINT)"
    null_s = "CAST(NULL AS STRING)"
    # (persisting precomputed band keys in the signatures table was
    # benchmarked: the re-derivation is scan-bound, not hash-bound, so the
    # stored column gave no wall win and was not taken)
    parts = [
        f"CASE WHEN minhash IS NOT NULL THEN transform(sequence(0, {b - 1}), "
        f"i -> {mk(band=f'xxhash64(i, slice(minhash, i * {r} + 1, {r}))', url=null_s, txt=null_s)}) "
        "ELSE array() END",
        "CASE WHEN norm_url IS NOT NULL THEN "
        f"array({mk(band=null_b, url='norm_url', txt=null_s)}) ELSE array() END",
        "CASE WHEN norm_redirect IS NOT NULL THEN "
        f"array({mk(band=null_b, url='norm_redirect', txt=null_s)}) ELSE array() END",
    ]
    if has_txt:
        t_key = mk(band=null_b, url=null_s, txt="concat('t:', t)")
        d_key = mk(band=null_b, url=null_s, txt="concat('d:', desc_key)")
        parts.append(
            "CASE WHEN title_keys IS NOT NULL THEN transform(title_keys, "
            f"t -> {t_key}) ELSE array() END")
        parts.append(
            f"CASE WHEN desc_key IS NOT NULL THEN array({d_key}) "
            "ELSE array() END")
    entries = "concat(" + ", ".join(parts) + ")"
    out_cols = ["url", "k.gk_band", "k.gk_url", "k.gk_txt"]
    sel_cols = ["url"]
    if with_simhash:
        out_cols.append("simhash")
        sel_cols.append("simhash")
    return (signatures
            .select(*sel_cols, F.explode(F.expr(entries)).alias("k"))
            .select(*out_cols))


def candidate_pairs(signatures: DataFrame,
                    cfg: DedupConfig,
                    use_simhash_prefilter: bool = False,
                    track_hot_keys: bool = False):
    """Full candidate set: LSH ∪ url_exact in ONE key-emission pass — one
    signatures scan, one grouped pair-expansion shuffle, one labeling
    aggregation (instead of separate band and url subplans + a dedup
    window). A pair seen under any URL key is url_exact and wins: it scores
    1.0 regardless of text, like the reference's short-circuit at
    app/hash_detector.py:263-266.

    With `track_hot_keys`, returns (pairs, n_hot) — see
    pairs_within_groups."""
    # Engine mode: SimHash rides the key emission as a member payload so
    # the Hamming gate runs INSIDE the pair-expansion codegen stage — the
    # raw pair rows a boilerplate-heavy char-shingle banding emits
    # (measured 17.4M at 100k docs vs 131k survivors) never reach the
    # labeling aggregation's shuffle. url-key pair occurrences bypass the
    # gate (url_exact scores 1.0 without a signature,
    # app/hash_detector.py:263-266); a null simhash on either side fails
    # the gate, exactly like the former join-based prefilter. NEVER
    # applied in parity runs (the reference has no SimHash).
    keys = unified_group_keys(signatures, cfg,
                              with_simhash=use_simhash_prefilter)
    tagged, n_hot = pairs_within_groups(
        keys, GROUP_KEY_COLS, cfg.band_bucket_cap, keep_keys=True,
        payload_col="simhash" if use_simhash_prefilter else None,
        track_hot_keys=True)
    if use_simhash_prefilter:
        tagged = (tagged.where(
            F.col("gk_url").isNotNull()
            | (F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
               <= cfg.simhash_hamming_max))
            .drop("pa", "pb"))
    # provenance priority mirrors the reference's field order (url exact
    # short-circuits, hash bands are the signature path, title and
    # description-prefix searches are the metadata recall paths)
    result = (tagged.groupBy("a", "b")
            .agg(F.max(F.col("gk_url").isNotNull()).alias("_exact"),
                 F.max(F.col("gk_band").isNotNull()).alias("_band"),
                 F.max(F.col("gk_txt").startswith("t:")).alias("_title"))
            .select("a", "b",
                    F.when(F.col("_exact"), F.lit("url_exact"))
                    .when(F.col("_band"), F.lit("lsh"))
                    .when(F.col("_title"), F.lit("title"))
                    .otherwise(F.lit("description")).alias("match_source")))
    return (result, n_hot) if track_hot_keys else result
