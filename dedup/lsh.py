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
- pair emission is ONE hash exchange of the key rows by key, then windows
  over that partitioning and NATIVE in-partition expansion (no self-join,
  no join, no broadcast): all pairs for groups <= cap; star edges around
  the group-min member for hot (boilerplate) groups — O(n) edges, cluster
  connectivity preserved; a pair missed inside one hot band has b-1 other
  bands plus the norm_url group. The signatures are scanned once and
  building the plan runs no Spark job.
- `a < b` canonicalization + one dedup pass before verification mirrors the
  reference's seen-id dedup (app/hash_detector.py:290-293) and keeps the
  expensive scoring stage minimal (SURVEY §4 "dedup before scoring").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window, functions as F

from dedup.config import DedupConfig


def pairs_within_groups(members: DataFrame, key_cols: list[str],
                        cap: int, member_col: str = "url",
                        keep_keys: bool = False,
                        payload_col: str | None = None,
                        funnel: Observation | None = None) -> DataFrame:
    """(key..., member) -> (a, b) pairs within each key group, skew-aware.

    Groups with <= cap member rows emit all pairs (a < b) of their
    distinct members; hot groups emit a star edge from their min member
    to every row of another member (connectivity-preserving). Output is
    NOT deduplicated across keys: a pair appears once per key that emits
    it. With `keep_keys`, the key columns ride along on every pair
    (callers aggregate them to label pair provenance). Null key values
    form their own groups.

    Plan: ONE hash exchange of the member rows by key, then one pass that
    emits the pairs inside each partition. A window over the key sorted by
    member gives each row its key's row count n, min member c, row number
    and previous member; singleton rows (n == 1, the vast majority) are
    dropped right after it. A second window over the same partitioning
    collects a cold key's sorted member set (a hot key's is empty), and
    each row explodes its own pairs: a cold row pairs with every larger
    member, once per distinct (key, member); a hot row whose member is
    not c emits the star edge (c, member). There is no count pre-pass, no join
    and no broadcast, so the signatures are scanned once. A pure plan:
    building it runs no Spark job.

    Trade: all of a hot key's rows pass through one task's sort and
    window buffer, with no map-side combine. On a hot-heavy synth corpus
    (20,000 docs, 50 hot keys) that was still faster than the count
    pre-pass plan (BENCH/BASELINE.md).

    With `funnel`, the windowed rows are observed before the singleton
    filter: `keys` (distinct keys), `singleton` (n == 1), `cold`
    (1 < n <= cap) and `hot` (n > cap, the capped-bucket count), read from
    each key's first row. It fills on the first action over the result,
    also when no pair is emitted. A caller that shuffles the result again
    (candidate_pairs' labeling aggregate) loses it when no pair reaches
    that shuffle: AQE then replaces the stage that holds the observation
    by an empty relation.

    With `payload_col`, each member carries one scalar payload through the
    expansion and every emitted pair exposes both sides as (pa, pb) — this
    lets callers apply pair-level prefilters (e.g. the engine's SimHash
    Hamming gate) in the same stage, before the raw pair rows reach a
    shuffle. Member ordering and dedup semantics are unchanged: a url maps
    to exactly one payload, so ordering (url, payload) structs equals
    ordering urls."""
    member = F.col(member_col)
    if payload_col is not None:
        member = F.struct(member.alias("url"),
                          F.col(payload_col).alias("_pl"))
    by_key = Window.partitionBy(*key_cols).orderBy("x")
    whole = by_key.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    x, n = F.col("x"), F.col("n")
    w = members.select(*key_cols, member.alias("x")).select(
        *key_cols, "x", F.count(F.lit(1)).over(whole).alias("n"),
        F.min(x).over(whole).alias("c"),
        F.row_number().over(by_key).alias("rn"),
        F.lag(x).over(by_key).alias("prev"))
    if funnel is not None:
        first = F.col("rn") == 1
        w = w.observe(
            funnel, F.count_if(first).alias("keys"),
            F.count_if(first & (n == 1)).alias("singleton"),
            F.count_if(first & (n > 1) & (n <= cap)).alias("cold"),
            F.count_if(first & (n > cap)).alias("hot"))

    def pair(a, b):
        if payload_col is None:
            return F.struct(a.alias("a"), b.alias("b"))
        return F.struct(a["url"].alias("a"), b["url"].alias("b"),
                        a["_pl"].alias("pa"), b["_pl"].alias("pb"))

    emit = (F.when(n <= cap, F.when(
        ~x.eqNullSafe(F.col("prev")),
        F.transform(F.filter("us", lambda y: y > x), lambda y: pair(x, y))))
        .when(x != F.col("c"), F.array(pair(F.col("c"), x))))
    kept = key_cols if keep_keys else []
    return (w.where(n > 1)
            .withColumn("us", F.sort_array(F.collect_set(
                F.when(n <= cap, x)).over(whole)))
            .select(*kept, F.explode(emit).alias("p"))
            .select(*kept, "p.*"))


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


def band_keys(cfg: DedupConfig):
    """The row's b band keys as one array column: band i is ONE xxhash64
    over (i, minhash[i*r : (i+1)*r]). NULL when minhash is NULL (xxhash64
    skips null inputs, so an unguarded transform would hash the band id
    alone). The one definition shared by the key table
    (unified_group_keys) and the lookups (kernel._score_lookup); the
    driver-side twin is local_oracle.xxh64_band_key."""
    b, r = cfg.lsh_bands, cfg.lsh_rows
    return F.when(F.col("minhash").isNotNull(), F.transform(
        F.sequence(F.lit(0), F.lit(b - 1)),
        lambda i: F.xxhash64(i, F.slice("minhash", i * r + 1, F.lit(r)))))


def unified_group_keys(signatures: DataFrame, cfg: DedupConfig,
                       with_simhash: bool = False) -> DataFrame:
    """(url, gk_band BIGINT?, gk_url STRING?, gk_txt STRING?): ALL blocking
    keys in one scan, exactly one of the three columns non-null per row.

    Band keys (`band_keys`) are ONE xxhash64 over (band_id, band slice) —
    an 8-byte shuffle key instead of the ~24-byte '<band>:<hash>' string
    concat (a band key is already a hash, so folding the band id into it
    is free; cross-band collisions are 2^-64 and land in the verify stage
    anyway). Normalized-URL keys stay EXACT strings in their own column —
    never hashed, so a url_exact pair can never be a hash collision — and
    exist for every document incl. signature-less ones.

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
    null_b = F.lit(None).cast("bigint")
    null_s = F.lit(None).cast("string")

    def key(band=null_b, url=null_s, txt=null_s):
        return F.struct(band.alias("gk_band"), url.alias("gk_url"),
                        txt.alias("gk_txt"))

    def one_key(col: str, **kind):
        return F.when(F.col(col).isNotNull(), F.array(key(**kind)))

    # (persisting precomputed band keys in the signatures table was
    # benchmarked: the re-derivation is scan-bound, not hash-bound, so the
    # stored column gave no wall win and was not taken)
    parts = [F.transform(band_keys(cfg), lambda k: key(band=k)),
             one_key("norm_url", url=F.col("norm_url")),
             one_key("norm_redirect", url=F.col("norm_redirect"))]
    if "title_keys" in signatures.columns:
        parts.append(F.transform(
            "title_keys", lambda t: key(txt=F.concat(F.lit("t:"), t))))
        parts.append(one_key(
            "desc_key", txt=F.concat(F.lit("d:"), F.col("desc_key"))))
    # a missing key family is an empty array, not a NULL that would null
    # the whole concat
    empty = F.array().cast(
        "array<struct<gk_band:bigint,gk_url:string,gk_txt:string>>")
    entries = F.concat(*[F.coalesce(p, empty) for p in parts])
    out_cols = ["url", "k.gk_band", "k.gk_url", "k.gk_txt"]
    sel_cols = ["url"]
    if with_simhash:
        out_cols.append("simhash")
        sel_cols.append("simhash")
    return (signatures
            .select(*sel_cols, F.explode(entries).alias("k"))
            .select(*out_cols))


def candidate_pairs(signatures: DataFrame,
                    cfg: DedupConfig,
                    funnel: Observation | None = None) -> DataFrame:
    """Full candidate set: LSH ∪ url_exact in ONE key-emission pass — one
    signatures scan, one key exchange with in-partition pair expansion
    (pairs_within_groups), one labeling aggregation: two shuffles, no join
    (instead of separate band and url subplans + a dedup window). A pair
    seen under any URL key is url_exact and wins: it scores 1.0 regardless
    of text, like the reference's short-circuit at
    app/hash_detector.py:263-266.

    A pure plan, like pairs_within_groups; `funnel` is handed to it and
    observes the key funnel (keys -> singleton / cold / hot) on the first
    action over the result, unless no pair reaches the labeling shuffle
    (see pairs_within_groups)."""
    # Engine mode (cfg.scoring "jaccard"): SimHash rides the key emission
    # as a member payload so the Hamming gate runs INSIDE the
    # pair-expansion codegen stage — the raw pair rows a boilerplate-heavy
    # char-shingle banding emits (measured 17.4M at 100k docs vs 131k
    # survivors) never reach the labeling aggregation's shuffle. url-key
    # pair occurrences bypass the gate (url_exact scores 1.0 without a
    # signature, app/hash_detector.py:263-266); a null simhash on either
    # side fails the gate, exactly like the former join-based prefilter.
    # NEVER applied in parity runs (the reference has no SimHash).
    engine = cfg.scoring == "jaccard"
    keys = unified_group_keys(signatures, cfg, with_simhash=engine)
    tagged = pairs_within_groups(
        keys, GROUP_KEY_COLS, cfg.band_bucket_cap, keep_keys=True,
        payload_col="simhash" if engine else None, funnel=funnel)
    if engine:
        tagged = (tagged.where(
            F.col("gk_url").isNotNull()
            | (F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
               <= cfg.simhash_hamming_max))
            .drop("pa", "pb"))
    # provenance priority mirrors the reference's field order (url exact
    # short-circuits, hash bands are the signature path, title and
    # description-prefix searches are the metadata recall paths)
    return (tagged.groupBy("a", "b")
            .agg(F.max(F.col("gk_url").isNotNull()).alias("_exact"),
                 F.max(F.col("gk_band").isNotNull()).alias("_band"),
                 F.max(F.col("gk_txt").startswith("t:")).alias("_title"))
            .select("a", "b",
                    F.when(F.col("_exact"), F.lit("url_exact"))
                    .when(F.col("_band"), F.lit("lsh"))
                    .when(F.col("_title"), F.lit("title"))
                    .otherwise(F.lit("description")).alias("match_source")))
