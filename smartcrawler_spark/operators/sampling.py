"""Deterministic corpus sampling / splitting / budget packing.

The sampling ops a training-data pipeline actually ships with:

* `hash_split`     — md5-bucket train/val/test assignment. Hash-based (not
                     RNG-based) so membership is a PURE FUNCTION of the id:
                     stable across runs, machines, engines, and table
                     versions; new rows join splits without reshuffling old
                     ones. The bucket math uses only md5 + string ops that
                     exist identically in every SQL engine (same portable
                     discipline as the minhash/simhash twins).
* `token_budget_pack` — greedy selection to a per-group token budget:
                     within each group (e.g. language or source), order by
                     descending priority and keep rows while the running
                     token total stays under budget. This is the "mix N
                     billion tokens per language" step of corpus assembly.
                     One window over the group — skew-safe for realistic
                     group counts (per-language groups are few and large:
                     the window is a single sort per group, no driver role).

Both are pure column expressions / window functions — whole-stage codegen,
no UDFs, no RNG state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HEX = "0123456789abcdef"


def _hex_val(c: Column) -> Column:
    """hex char -> 0..15 via ascii arithmetic ('0'-'9' => 48..57, 'a'-'f'
    => 97..102) — portable to any engine with ascii()."""
    a = F.ascii(c)
    return F.when(a <= 57, a - 48).otherwise(a - 87)


def md5_bucket(col: Column, n_buckets: int = 100) -> Column:
    """Deterministic bucket in [0, n_buckets): first two md5 hex digits of
    the value's string form -> integer -> mod. Engine-portable (md5 +
    substring + ascii arithmetic only)."""
    h = F.md5(col.cast("string"))
    d1 = _hex_val(F.substring(h, 1, 1))
    d2 = _hex_val(F.substring(h, 2, 1))
    return (d1 * 16 + d2) % n_buckets


def hash_split(df: DataFrame, id_col: str = "doc_id",
               train_pct: int = 80, val_pct: int = 10) -> DataFrame:
    """Assign each row a stable split label: bucket = md5_bucket(id, 100);
    train if bucket < train_pct, val if < train_pct + val_pct, else test."""
    b = md5_bucket(F.col(id_col))
    split = (
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("bucket", b).withColumn("split", split)


def token_budget_pack(
    df: DataFrame, budget: int, text_col: str = "text",
    id_col: str = "doc_id", group_col: str = "lang",
    priority: Column | None = None,
) -> DataFrame:
    """Keep, per group, the highest-priority rows whose RUNNING token total
    stays within `budget` (greedy prefix pack; a row that would cross the
    budget line is excluded, as is everything after it in priority order).

    Default priority = more tokens first (pack big docs), ties by id — pass
    e.g. a quality score column for quality-first mixing. Returns
    (group, doc_id, n_tokens, cum_tokens) for the selected rows."""
    from ..functions.textops import token_count

    toks = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("doc_id"),
        token_count(F.col(text_col)).alias("n_tokens"),
        (priority if priority is not None else token_count(F.col(text_col)))
        .alias("_prio"),
    )
    w = (
        Window.partitionBy("grp")
        .orderBy(F.desc("_prio"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        toks.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .filter(F.col("cum_tokens") <= budget)
        .select("grp", "doc_id", "n_tokens", "cum_tokens")
    )


def md5_uniform_p24(col: Column, salt: str = "ws") -> Column:
    """Deterministic uniform integer in [0, 2^24) from the first six md5
    hex digits of `id|salt` — the same engine-portable discipline as
    md5_bucket (md5 + substring + ascii arithmetic only), with 24 bits of
    resolution so sampling rates down to ~6e-8 stay expressible."""
    return md5_uniform_bits(col, salt=salt, nbits=24)


def md5_uniform_bits(col: Column, salt: str = "ws", nbits: int = 24) -> Column:
    """Deterministic uniform LONG in [0, 2^nbits) from the first nbits/4
    md5 hex digits of `value|salt` — md5 + substring + ascii arithmetic
    only, so any engine (DuckDB: CAST('0x'||substr(md5(..),1,n) AS
    BIGINT)) replays it bit-exactly. nbits must be a multiple of 4 and
    <= 60 (stays comfortably inside a signed 64-bit long)."""
    if nbits % 4 or not 0 < nbits <= 60:
        raise ValueError("nbits must be a multiple of 4 in (0, 60]")
    h = F.md5(F.concat(col.cast("string"), F.lit("|" + salt)))
    v = F.lit(0).cast("long")
    for i in range(nbits // 4):
        v = v * 16 + _hex_val(F.substring(h, i + 1, 1))
    return v


def weighted_sample(df: DataFrame, weight_p24: Column,
                    id_col: str = "doc_id", salt: str = "ws") -> DataFrame:
    """Deterministic weighted Bernoulli sampling: keep a row iff its
    md5-uniform draw u24 < `weight_p24` (the keep probability in parts
    per 2^24, an INTEGER column — quality-weighted corpus downsampling
    without float thresholds that could diverge across engines).

    Like hash_split, membership is a pure function of (id, salt): stable
    across runs/engines/table versions, new rows sample independently
    without disturbing old ones, and re-running with a larger weight is a
    SUPERSET of the smaller run (u24 is fixed per id, so raising the
    threshold only adds rows — the property that makes staged corpus
    scale-ups reproducible). Pure column expressions, no RNG state, no
    shuffle — a map-only filter at any scale."""
    u = md5_uniform_p24(F.col(id_col), salt)
    return (
        df.withColumn("u24", u.cast("long"))
        .filter(F.col("u24") < F.least(weight_p24.cast("long"),
                                       F.lit(1 << 24)))
    )


def temperature_mix(df: DataFrame, total_target: int, alpha: float = 0.5,
                    group_col: str = "source", id_col: str = "doc_id",
                    salt: str = "tmix") -> DataFrame:
    """Temperature-scaled source mixing: sample the corpus down to
    ~`total_target` rows with per-group keep rates chosen so the OUTPUT
    distribution over groups is q_g ∝ n_g^alpha — the standard
    multilingual/source rebalancing (alpha=1 natural proportions,
    alpha→0 uniform over groups; alpha≈0.3–0.7 is the usual production
    range). Keep probability per group: p_g = min(1, T·q_g / n_g),
    realized by the deterministic md5 Bernoulli draw (weighted_sample),
    so membership is a pure function of (id, salt) and a larger T keeps
    a superset.

    Scale shape: one count aggregation (map-side partials) -> a
    group-count dim broadcast back -> map-only filter. No shuffle of
    the corpus itself. Group weights use float pow(): fine in
    production; for an engine-portable integer-exact kernel gate, see
    temperature_mix_sqrt (the alpha=1/2 special case).

    Rows with a NULL group are dropped (the broadcast dim join is on
    the group key). Returns the kept rows + (n_group, p24, u24)."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_group"))
    counts = counts.withColumn("_w", F.pow(F.col("n_group").cast("double"),
                                           F.lit(float(alpha))))
    # global total via a window over the tiny group dim (a self-join on
    # the aggregate's lineage would be ambiguous; the dim has one row per
    # group, so the single-partition window is free)
    dim = counts.withColumn(
        "_wsum", F.sum("_w").over(Window.partitionBy(F.lit(1)))).withColumn(
        "p24",
        F.least(
            F.lit(1 << 24).cast("long"),
            F.floor(F.lit(float(total_target)) * (F.col("_w") / F.col("_wsum"))
                    / F.col("n_group") * F.lit(float(1 << 24))).cast("long"),
        ),
    ).select(group_col, "n_group", "p24")
    joined = df.join(F.broadcast(dim), group_col)
    return weighted_sample(joined, F.col("p24"), id_col=id_col, salt=salt)


def temperature_mix_sqrt(df: DataFrame, total_target: int,
                         group_col: str = "source", id_col: str = "doc_id",
                         salt: str = "tmix") -> DataFrame:
    """The alpha = 1/2 temperature mix as a fully INTEGER-EXACT portable
    kernel: group weight w_g = floor(sqrt(n_g)) (exact for n < 2^50 —
    IEEE sqrt is correctly rounded and a non-square integer's root is
    never within an ulp of an integer at that scale), W = Σ w_g in
    integer arithmetic, and

        p24_g = min(2^24, (T · w_g · 2^24) div (W · n_g))

    entirely in bigint — no pow(), no float sums whose ordering could
    diverge across engines, so the same rows are kept by any SQL engine
    (this is the oracle-gated twin of temperature_mix; overflow bound:
    T·w_g·2^24 < 2^63 ⇔ T·sqrt(n_g) < 5.5e11, far beyond any real
    per-run target). Same one-aggregation + broadcast + map-only-filter
    scale shape."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_group"))
    counts = counts.withColumn(
        "_w", F.floor(F.sqrt(F.col("n_group").cast("double"))).cast("long"))
    dim = (
        counts.withColumn("_wsum",
                          F.sum("_w").over(Window.partitionBy(F.lit(1))))
        .withColumn("_num",
                    F.col("_w") * F.lit(int(total_target)) * F.lit(1 << 24))
        .withColumn("_den", F.col("_wsum") * F.col("n_group"))
        .withColumn("p24", F.least(F.lit(1 << 24).cast("long"),
                                   F.expr("_num div _den")))
        .select(group_col, "n_group", "p24")
    )
    joined = df.join(F.broadcast(dim), group_col)
    return weighted_sample(joined, F.col("p24"), id_col=id_col, salt=salt)


def uniform_sample_k(df: DataFrame, k: int, group_col: str = "lang",
                     id_col: str = "doc_id", salt: str = "") -> DataFrame:
    """Deterministic uniform k-per-group sample: rank rows inside each
    group by the md5 draw of (id, salt) and keep the k smallest — a
    seeded reservoir sample that is reproducible across engines and
    stable under partitioning. Changing `salt` redraws independently;
    appending rows can only displace ranks, never reshuffle survivors
    arbitrarily. Uses the skew-safe two-phase salted top-k, so one giant
    group cannot pin a task. The eval-set construction primitive."""
    from .frontier import top_k_per_group

    draw = F.md5(F.concat(F.col(id_col).cast("string"), F.lit("|"),
                          F.lit(salt)))
    return top_k_per_group(
        df.withColumn("_draw", draw), [group_col],
        [F.col("_draw").asc(), F.col(id_col).asc()], k=k,
    ).drop("_draw")


def quota_sample(df: DataFrame, quotas: DataFrame, group_col: str = "lang",
                 quota_col: str = "quota", id_col: str = "doc_id",
                 salt: str = "", n_salts: int = 8) -> DataFrame:
    """Exact per-stratum sampling: keep the `quota_g` smallest md5 draws
    in each stratum g (all rows when the stratum is smaller than its
    quota). `quotas` is a (group, quota) dim — typically
    frontier.apportion_budget output — broadcast onto the corpus.

    Ranks through frontier.top_k_per_group with the broadcast quota as
    the per-row limit column, salted on the id (bounding any task to
    |g|/n_salts rows). Deterministic, engine-portable draws: membership is
    a pure function of (id, salt-string), append-stable like every sampler
    here. Phase-2 groups hold up to n_salts*quota rows — sized for sample
    quotas well under stratum size; for keep-most filtering use
    weighted_sample."""
    from .frontier import top_k_per_group

    dim = F.broadcast(quotas.select(
        F.col(group_col).alias("_g"), F.col(quota_col).alias("_quota")))
    draw = F.md5(F.concat(F.col(id_col).cast("string"), F.lit("|"),
                          F.lit(salt)))
    drawn = (
        df.join(dim, F.col(group_col) == F.col("_g"), "inner").drop("_g")
        .withColumn("_draw", draw)
    )
    return top_k_per_group(
        drawn, [group_col], [F.col("_draw").asc(), F.col(id_col).asc()],
        "_quota", n_salts, salt_on=id_col,
    ).drop("_quota", "_draw")


def stratified_sample(df: DataFrame, total: int, group_col: str = "lang",
                      weights: DataFrame | None = None,
                      id_col: str = "doc_id", salt: str = "") -> DataFrame:
    """Sample EXACTLY `total` rows (when strata can supply them),
    stratified over `group_col`: largest-remainder apportionment of the
    budget across strata (frontier.apportion_budget — integer-exact,
    sum(quota) == total) followed by quota_sample. `weights` defaults to
    the stratum row counts (proportional allocation); pass any
    (group, weight) dim for custom mixes (e.g. sqrt-damped counts from
    temperature-style rebalancing). The "sample exactly 1M docs,
    stratified by language" primitive of corpus assembly."""
    from .frontier import apportion_budget

    if weights is None:
        weights = (df.groupBy(group_col)
                   .agg(F.count(F.lit(1)).alias("weight")))
    quotas = apportion_budget(weights, total, key_col=group_col,
                              weight_col="weight")
    quotas = quotas.select(F.col("key").alias(group_col), "quota")
    return quota_sample(df, quotas, group_col=group_col,
                        id_col=id_col, salt=salt)


def chunk_documents(docs: DataFrame, chunk_tokens: int = 2048,
                    overlap: int = 0, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Split documents into fixed-size token windows — the sequence-prep
    step between corpus assembly and training: (id, chunk_idx, text,
    n_tokens) with whitespace-token windows of `chunk_tokens`, starting
    every `chunk_tokens - overlap` tokens. The final window is the
    ragged tail (>= 1 token); token-less docs emit no chunks. Pure
    Column expressions (tokenize once, one explode of a chunk-index
    sequence, slice + rejoin per chunk) — whole-stage codegen, no UDF,
    no shuffle beyond whatever the caller does next.

    chunk_idx is 0-based and contiguous, so (id, chunk_idx) is a stable
    training-example key; overlap > 0 repeats the last `overlap` tokens
    of each window at the start of the next (contextual continuity for
    long-document pretraining)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    from ..functions import textops as T

    toks = docs.select(
        F.col(id_col),
        T.word_tokens(F.col(text_col)).alias("_toks"),
    ).withColumn("_n", F.size("_toks")).filter(F.col("_n") > 0)
    n_chunks = F.when(
        F.col("_n") <= chunk_tokens, F.lit(1)
    ).otherwise(
        # ceil((n - chunk_tokens) / stride) extra windows past the first,
        # integer-exact
        F.lit(1) + F.expr(f"(_n - {chunk_tokens} + {stride} - 1) div {stride}")
    )
    out = (
        toks.withColumn("_nc", n_chunks.cast("int"))
        .select(
            id_col, "_toks",
            F.explode(F.sequence(F.lit(0), F.col("_nc") - 1))
            .alias("chunk_idx"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.slice(F.col("_toks"),
                    F.col("chunk_idx") * stride + 1,
                    chunk_tokens).alias("_chunk"),
        )
    )
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.array_join("_chunk", " ").alias(text_col),
        F.size("_chunk").cast("long").alias("n_tokens"),
    )
