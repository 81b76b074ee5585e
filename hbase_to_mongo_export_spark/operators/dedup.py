"""Deduplication operators for training-data pipelines.

All variants are pure DataFrame compositions (JVM-side, no Python UDFs):

- exact_dedup            — content fingerprint → keep canonical doc per group
- ngram_jaccard_pairs    — blocked pairwise word-set Jaccard (exact, for
                           verification and small blocks)
- minhash_lsh_pairs      — MinHash signatures + banded LSH self-join: the
                           100 TB-scale near-dup path. Candidate generation
                           shuffles on (band, bucket-hash) only; each
                           candidate pair is then verified with exact
                           Jaccard. No O(n²) stage anywhere.
- simhash                — 64-bit SimHash per document via per-token hash
                           bit votes; near-dups = signatures within a small
                           Hamming distance (pairs via band blocking).

Scale notes: LSH band width / row count trade recall vs candidate count;
defaults (16 bands × 4 rows = 64 hashes) target Jaccard ≳ 0.5. Hot buckets
(boilerplate shingles) are the classic skew source — candidates are
deduplicated before verification and AQE skew-join handles bucket skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint
from . import _cache

# 60-bit integer hash derived from md5 — reproducible in any engine with
# md5 + hex conversion (DuckDB: CAST(concat('0x', substring(md5(x),1,15))
# AS BIGINT)), which makes the full MinHash/SimHash/winnowing pipelines
# oracle-checkable. xxhash64 stays the default: it's one JVM codegen call
# vs md5's digest + hex + conv chain (~3× cheaper in the shingle hot loop).
PORTABLE_HASH_SQL = "CAST(conv(substring(md5({col}),1,15),16,10) AS BIGINT)"


def hash64(col_name: str, hash_fn: str = "xxhash64") -> Column:
    """64-bit (xxhash64) or 60-bit (md5-portable) integer hash of a string
    column, selected by name so callers can trade speed for cross-engine
    reproducibility."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col_name)
    if hash_fn == "md5":
        return F.expr(PORTABLE_HASH_SQL.format(col=col_name))
    raise ValueError(f"unknown hash_fn {hash_fn!r}; expected xxhash64|md5")


def _fan_out(df: DataFrame) -> DataFrame:
    """Spread compute-bound per-row kernels across all cores.

    Small inputs arrive as one file split → one task, which serializes the
    expensive shingle/signature work. A round-robin repartition to the
    cluster's default parallelism costs one tiny shuffle of the raw rows
    and unlocks full-width execution. At 100 TB inputs already have
    thousands of splits and this is a no-op-sized adjustment — never a
    coalesce."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # Probe the scan's split count WITHOUT df.rdd (which forces full
    # physical planning + a py4j RDD conversion per query build — pure
    # driver latency). inputFiles() is a cheap logical-plan walk; a
    # non-scan plan (no file list) keeps the repartition, which is the
    # safe choice for the small fixture inputs this path exists for.
    try:
        n_in = len(df.inputFiles())
    except Exception:
        n_in = 0
    if n_in >= target:
        return df
    return df.repartition(target)


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str, keep: str = "min"
) -> DataFrame:
    """One canonical row id per distinct normalized content; adds
    ``dup_count``. Single hash-aggregate shuffle on the fingerprint."""
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(agg.alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Word n-grams of lowercased text in document order, duplicates kept
    (empty-safe). Built by zipping the word array with its n-1 shifted
    copies (``arrays_zip`` + one ``transform``) — ~3× faster than the
    slice-per-position formulation because each element does one struct
    concat instead of an array slice + copy."""
    words = F.split(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "), " ")
    k = F.size(words) - (n - 1)  # number of n-grams
    shifted = [
        F.slice(words, j + 1, F.greatest(k, F.lit(0))) for j in range(n)
    ]
    zipped = F.arrays_zip(*shifted)
    return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]))
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lowercased text (empty-safe)."""
    return F.array_distinct(word_ngrams(text, n))


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard of two DISTINCT-element arrays. Uses
    |A∪B| = |A|+|B|−|A∩B| so only the intersection is materialized —
    array_union is the pairwise hot path's biggest cost."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


def _cap_postings(inv: DataFrame, block: str, max_df: int) -> DataFrame:
    """Drop inverted-index postings for shingles whose per-block
    document frequency exceeds ``max_df`` (shingles are distinct per
    doc, so the posting count IS the df). One aggregate + semi-join;
    shared by the Jaccard and containment joins so the cap semantics
    can never diverge between them."""
    rare = (
        inv.groupBy(block, "s")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= int(max_df))
        .select(block, "s")
    )
    return inv.join(rare.hint("merge"), [block, "s"], "semi")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT pairwise Jaccard over word n-gram shingle sets, computed via an
    inverted-index self-join: explode shingles, equi-join on (block,
    shingle) to count common shingles per pair, then
    |A∪B| = |A|+|B|−|A∩B|. Only pairs sharing ≥1 shingle are ever
    materialized — exact for any threshold > 0, and cost scales with
    Σ_shingle df(shingle)² instead of |block|². High-document-frequency
    shingles (boilerplate) are the skew hazard at 100 TB; AQE skew-join
    splits them, and near-universal shingles should be stop-listed upstream.

    ``max_df`` is that stop-list, in-operator and ABSOLUTE: postings for
    shingles whose document frequency (within a block) exceeds it are
    dropped BEFORE the self-join, bounding each shingle's join
    contribution to max_df² — the guard that keeps a boilerplate-
    degenerate shard (every doc sharing a header shingle: df ∝ N,
    join rows ∝ N²) from going super-linear. The intersection count can
    only UNDERCOUNT on capped shingles while |A|/|B| stay full, so the
    reported jaccard is a lower bound: pairs never false-positive, and
    recall loss is confined to pairs whose overlap is mostly
    boilerplate (measured at a sweep point in SCALE_EVIDENCE.md §4).
    Default ``None`` (off) stays exact for oracle parity.
    """
    assert threshold > 0.0, "inverted-index formulation requires threshold > 0"
    block = block_col or "__block"
    base = _fan_out(df).select(
        F.col(id_col),
        word_shingles(F.col(text_col), n).alias("sh"),
        *([F.col(block_col)] if block_col else [F.lit(1).alias("__block")]),
    )
    # hint("merge"): the inverted index is corpus-sized on BOTH sides and
    # the static size estimate of an explode chain is unreliable — a
    # mis-planned broadcast collects the corpus to the driver (the
    # observed failure mode in SCALE_EVIDENCE.md §1).
    #
    # |A| rides every posting as an int (``sz``, computed BEFORE any
    # max_df cap so it is always the full set size): the pair aggregate
    # then has both set sizes in hand via min(), which removes the old
    # separate ``sizes`` branch — one extra corpus tokenize pass plus
    # two post-aggregation joins — for ~4 bytes per posting through the
    # (block, shingle) exchange. sz is functionally dependent on the id
    # grouping keys, so min() is exact reconstruction, not an estimate.
    inv = base.select(
        F.col(id_col), F.col(block), F.size("sh").alias("sz"),
        F.explode("sh").alias("s"),
    )
    if max_df is not None:
        inv = _cap_postings(inv, block, max_df)
    inv = inv.hint("merge")
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(
            b,
            (F.col(f"a.{block}") == F.col(f"b.{block}"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.min("a.sz").alias("sz_a"),
            F.min("b.sz").alias("sz_b"),
        )
    )
    out = common.select(
        "id_a",
        "id_b",
        F.round(
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
            6,
        ).alias("jaccard"),
    )
    return out.filter(F.col("jaccard") >= threshold)


def _xor_params(num_hashes: int) -> list[int]:
    """Deterministic XOR masks for the permutation family. XOR by a
    constant is a bijection of the 64-bit space, so
    P(argmin collision) = Jaccard for iid-uniform base hashes — and it
    cannot overflow under ANSI arithmetic (multiply-shift would throw)."""
    masks = []
    a = 0x9E3779B97F4A7C15  # golden-ratio increment (splitmix64 seed walk)
    x = 0
    for _ in range(num_hashes):
        x = (x + a) & 0xFFFFFFFFFFFFFFFF
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z = z ^ (z >> 31)
        masks.append(_to_signed(z))
    return masks


def _to_signed(x: int) -> int:
    return x - 2**64 if x >= 2**63 else x


def minhash_from_hashes(hashes: Column, num_hashes: int = 64) -> Column:
    sentinel = F.lit(2**63 - 1).cast("long")
    mins = [
        F.coalesce(
            F.array_min(
                F.transform(hashes, lambda h: h.bitwiseXOR(F.lit(m).cast("long")))
            ),
            sentinel,
        )
        for m in _xor_params(num_hashes)
    ]
    return F.array(*mins)


def _minhash_sig_cols(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    hash_fn: str,
) -> DataFrame:
    """Per-document MinHash signature as ``num_hashes`` BIGINT columns
    m0..m{k-1}.

    explode → hash each shingle ONCE → 64 min-aggregates. The mins are
    plain codegen'd aggregates with map-side partial aggregation, so the
    shuffle carries 64 longs per document — the formulation that holds at
    100 TB (higher-order-function transforms are interpreted and 10×
    slower; see git history)."""
    exploded = _fan_out(df).select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    ).select(F.col(id_col), hash64("shingle", hash_fn).alias("h"))
    masks = _xor_params(num_hashes)
    # expression STRINGS, not Column chains: building 64 aggregates +
    # 16 band structs through per-call py4j Columns costs >1s of driver
    # time per invocation; F.expr parses each JVM-side in one hop.
    return exploded.groupBy(id_col).agg(
        *[
            F.expr(f"min(h ^ CAST({m} AS BIGINT))").alias(f"m{i}")
            for i, m in enumerate(masks)
        ]
    )


def _lsh_candidates(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int, hash_fn: str
) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs from banded LSH over a
    m0..m{k-1} signature frame: explode to one row per band, equi-join on
    (band, bucket)."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    bucket_tpl = (
        "xxhash64(concat_ws(',', {cols}))"
        if hash_fn == "xxhash64"
        else "concat_ws(',', {cols})"
    )
    band_structs = ", ".join(
        ("named_struct('band', {b}, 'bucket', " + bucket_tpl + ")").format(
            b=b,
            cols=", ".join(
                f"m{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    banded = sig.select(
        id_col, F.explode(F.expr(f"array({band_structs})")).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")

    # Force sort-merge: both sides are the SAME exploded band table, so a
    # broadcast is never right — and the static size estimate of an
    # aggregate->explode chain is unreliable enough that the planner has
    # been seen broadcasting a ~1 GB side at 1M docs (driver OOM). SMJ
    # keeps it distributed at any scale; AQE still handles skewed buckets.
    a = banded.hint("merge").alias("a")
    b = banded.hint("merge").alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH, verified with exact
    Jaccard. Returns (id_a, id_b, jaccard >= threshold).

    ``hash_fn="md5"`` swaps the shingle hash for the md5-portable variant
    and keys bands by the joined min-value string instead of an xxhash64
    bucket — equality on the value tuple is equality on the bucket, and
    every step becomes reproducible in ANSI SQL (the DuckDB oracle).

    Plan shape: narrow shingle/signature projection → explode to one row
    per band (×bands) → shuffle on (band, band_hash) self-join → distinct
    candidate pairs → one more join back to shingles → exact verify."""
    # sig feeds BOTH sides of the banded self-join — cache it once (the
    # minhash_estimate_pairs pattern) instead of re-exploding and
    # re-hashing every shingle per join side; the signature frame is
    # num_hashes longs per document, far smaller than the shingle stream
    # it derives from
    sig = _cache.track(
        _minhash_sig_cols(df, id_col, text_col, n, num_hashes, hash_fn).cache()
    )
    candidates = _lsh_candidates(sig, id_col, num_hashes, bands, hash_fn)

    # hint("merge"): the shingle side is corpus-sized — never a broadcast
    # candidate, whatever the static estimate says (see _lsh_candidates).
    sh = df.select(
        F.col(id_col), word_shingles(F.col(text_col), n).alias("sh")
    ).hint("merge")
    verified = (
        candidates.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document: per-token hash, each bit votes
    +1/-1 weighted by token frequency; signature bit b = sign of the vote.

    Implemented as explode → groupBy(doc) with ``bits`` conditional sums —
    one shuffle, all JVM-side. With ``hash_fn="md5"`` the top 4 signature
    bits are always 0 (60-bit hash) — harmless for Hamming comparisons."""
    toks = _fan_out(df).select(
        F.col(id_col),
        F.explode(
            F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " ")
        ).alias("tok"),
    ).withColumn("h", hash64("tok", hash_fn))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(F.col(f"v{b}") > 0, F.lit(1).cast("long") * (2**b if b < 63 else -(2**63))).otherwise(0)
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs whose SimHash Hamming distance <= max_hamming.
    Blocking: split the 64-bit signature into ``bands`` chunks — any pair
    within distance (bands-1) shares at least one exact chunk (pigeonhole),
    so candidates come from equi-joins on (chunk index, chunk value)."""
    # sigs feeds BOTH sides of the chunk self-join — cache it once (the
    # minhash_lsh_pairs pattern; ReuseExchange does not dedupe the two
    # sides): one (id, long) row per doc, so the cache is node-scale
    # while the recompute it removes is the corpus tokenize + 64-vote
    # aggregate.
    sigs = _cache.track(simhash(df, id_col, text_col, hash_fn=hash_fn).cache())
    chunk_bits = 64 // bands
    chunked = sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftrightunsigned(F.col("simhash"), i * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("cv"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", "c.ci", "c.cv")
    # hint("merge"): both sides are the same corpus-sized chunk table —
    # never broadcastable, whatever the static explode estimate says
    # (SCALE_EVIDENCE.md §1).
    chunked = chunked.hint("merge")
    a = chunked.alias("a")
    b = chunked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select(
        "id_a", "id_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    scheme): hash every k-gram shingle, slide a window of ``window``
    consecutive hashes, keep each window's minimum — the classic
    rolling-hash fingerprint selection whose density is guaranteed
    (~2/(window+1)) while still catching any match of length k+window-1.

    Output: (id, fingerprint) distinct pairs. Plan: explode shingles with
    position → one window-min pass partitioned per document → distinct.
    At 100 TB the window function partitions by document (bounded state),
    and the distinct is the only shuffle after it."""
    from pyspark.sql import Window as W

    words = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " "
    )
    n_sh = F.size(words) - (k - 1)
    shingled = (
        _fan_out(df)
        .select(
            F.col(id_col),
            F.posexplode(
                F.when(n_sh <= 0, F.array().cast("array<string>")).otherwise(
                    F.transform(
                        F.sequence(F.lit(0), n_sh - 1),
                        lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
                    )
                )
            ).alias("pos", "shingle"),
        )
        .select(F.col(id_col), F.col("pos"), hash64("shingle", hash_fn).alias("h"))
    )
    w = (
        W.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(W.currentRow, window - 1)
    )
    return (
        shingled.select(F.col(id_col), F.min("h").over(w).alias("fingerprint"))
        .distinct()
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Document-pair overlap scored by shared winnowing fingerprints — the
    MOSS plagiarism-detection use-case end-to-end. Output
    (id_a, id_b, shared_fps, overlap) with
    overlap = shared / min(|fps_a|, |fps_b|) (the overlap coefficient, so
    a short document fully contained in a long one scores ~1.0).

    Plan: fingerprint selection (one window pass per doc) → inverted-index
    self-join on fingerprint → pair-count aggregate → two broadcast-sized
    joins for per-doc totals. Cost ∝ Σ_fp df(fp)² like any inverted-index
    join; boilerplate fingerprints are the skew hazard and AQE skew-join
    splits them."""
    # fps feeds three consumers (per-doc counts + both join sides) —
    # materialize once instead of re-fingerprinting per branch
    fps = _cache.track(
        winnow_fingerprints(df, id_col, text_col, k, window, hash_fn).cache()
    )
    counts = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    # hint("merge"): the fingerprint table self-join is corpus-sized on
    # both sides (SCALE_EVIDENCE.md §1).
    a, b = fps.hint("merge").alias("a"), fps.hint("merge").alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    na = counts.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = counts.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "shared_fps",
            F.round(
                F.col("shared_fps").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                6,
            ).alias("overlap"),
        )
    )


def minhash_estimate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Sketch-calibration view of MinHash: for every LSH candidate pair,
    the signature-agreement Jaccard ESTIMATE (fraction of equal mins)
    side-by-side with the exact shingle-set Jaccard and the absolute
    error. Output (id_a, id_b, est_jaccard, jaccard, abs_err).

    This is the scale-tuning tool: at 100 TB you pick num_hashes/bands by
    looking at exactly this error distribution on a sample."""
    # sig feeds three consumers (banding + both estimate join sides) —
    # materialize once instead of re-hashing every shingle per branch
    sig = _cache.track(
        _minhash_sig_cols(df, id_col, text_col, n, num_hashes, hash_fn).cache()
    )
    candidates = _lsh_candidates(sig, id_col, num_hashes, bands, hash_fn)
    matches = F.expr(
        " + ".join(
            f"IF(a.m{i} = b.m{i}, 1, 0)" for i in range(num_hashes)
        )
    )
    # hint("merge") on the corpus-sized signature/shingle sides: their
    # static estimates (agg/explode chains) are unreliable and a
    # mis-planned broadcast collects the corpus (SCALE_EVIDENCE.md §1)
    est = (
        candidates.join(
            sig.hint("merge").alias("a"), F.col("id_a") == F.col(f"a.{id_col}")
        )
        .join(sig.hint("merge").alias("b"), F.col("id_b") == F.col(f"b.{id_col}"))
        .select(
            "id_a",
            "id_b",
            F.round(
                matches.cast("double") / F.lit(float(num_hashes)), 6
            ).alias("est_jaccard"),
        )
    )
    sh = df.select(
        F.col(id_col), word_shingles(F.col(text_col), n).alias("sh")
    ).hint("merge")
    return (
        est.join(
            sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"),
            "id_a",
        )
        .join(
            sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
            F.round(
                F.abs(
                    F.col("est_jaccard")
                    - F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6)
                ),
                6,
            ).alias("abs_err"),
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by min-label propagation (Pregel-lite on
    DataFrames): every node starts labeled with its own id; each round a
    node takes the min of its label and its neighbors' labels; fixpoint
    in O(component diameter) rounds. Near-dup components are small and
    dense, so this converges in a handful of rounds.

    Returns (id, component) with component = min node id reachable.

    Scale posture: each round is one shuffle of the (undirected) edge
    list keyed by node id — the same key every round, so at cluster
    scale a pre-`repartition` on id keeps rounds co-partitioned. Labels
    are cached per round and the previous round unpersisted; lineage is
    cut so 25 rounds don't build a 25-deep plan.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    if nodes is None:
        node_df = und.select(F.col("u").alias("id")).distinct()
    else:
        node_df = nodes.select(F.col(nodes.columns[0]).alias("id")).distinct()
    labels = node_df.withColumn("component", F.col("id"))
    labels.cache()
    from pyspark.sql import Observation

    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und.v == labels.id)
            .groupBy("u")
            .agg(F.min("component").alias("nmin"))
        )
        # convergence probe rides the checkpoint's materialization pass:
        # a label changes iff nmin < component (NULL nmin → unchanged),
        # observable on the joined frame BEFORE the select — the old
        # shape paid a separate new-vs-old join + count job per round
        # over the node-sized label frames (guide §1.2 step 1).
        obs = Observation()
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.u, "left")
            .observe(
                obs,
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("nmin") < F.col("component"), 1
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("n_changed"),
            )
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = int(obs.get["n_changed"])
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    return labels


def jaccard_prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard pair join with PPJoin/All-Pairs prefix filtering: a
    pair with Jaccard >= t must share at least one shingle among each
    side's first (|S| - ceil(t*|S|) + 1) shingles under a single global
    ordering (rarest-first by document frequency). Only those prefixes
    enter the inverted index, so the candidate join touches
    Σ_prefix-shingle df² instead of Σ_all-shingle df² — the classic way
    to keep an exact similarity join feasible when boilerplate shingles
    would otherwise dominate. Candidates are then exact-verified on the
    full shingle sets; output is identical to ``ngram_jaccard_pairs``
    without blocking.

    The overlap bound uses ceil(t*|S| - 1e-9): the epsilon guards against
    a float product landing epsilon ABOVE an integer (which would shorten
    the prefix and lose recall); erring low only lengthens the prefix,
    never drops a pair."""
    assert threshold > 0.0
    base = _fan_out(df).select(
        F.col(id_col), word_shingles(F.col(text_col), n).alias("sh")
    ).filter(F.size("sh") > 0)
    # base feeds FIVE consumers (dfreq, the prefix explode, both verify
    # sides); Spark re-tokenizes the corpus for each. The frame is
    # corpus-scale WITH the shingle arrays — caching it is the §5
    # residency anti-pattern — so spill it once to temp parquet and
    # stream it back into every consumer (guide §6; r10 verdict ask #6).
    base = _cache.spill_parquet(base, "jacpfx_base")
    dfreq = (
        base.select(F.explode("sh").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    from pyspark.sql import Window as W

    exploded = base.select(
        F.col(id_col), F.size("sh").alias("sz"), F.explode("sh").alias("s")
    ).join(dfreq, "s")
    rn = F.row_number().over(
        W.partitionBy(id_col).orderBy(F.col("df"), F.col("s"))
    )
    overlap_bound = F.ceil(
        F.col("sz").cast("double") * F.lit(threshold) - F.lit(1e-9)
    )
    prefix = exploded.withColumn("rn", rn).filter(
        F.col("rn") <= F.col("sz") - overlap_bound + 1
    )
    # hint("merge"): prefix index and shingle sets are corpus-sized on
    # both sides — never broadcast candidates of a self-join
    # (SCALE_EVIDENCE.md §1)
    a = prefix.hint("merge").select(F.col(id_col).alias("id_a"), F.col("s"))
    b = prefix.hint("merge").select(F.col(id_col).alias("id_b"), F.col("s"))
    candidates = (
        a.join(b, (a.s == b.s) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
        .distinct()
    )
    sh = base.hint("merge")
    verified = (
        candidates.join(
            sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"),
            "id_a",
        )
        .join(
            sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT pairwise shingle CONTAINMENT |A∩B| / |A| (both directions)
    via the same inverted-index join as ngram_jaccard_pairs — the
    asymmetric near-dup detector: a short document wholly embedded in a
    long one has low Jaccard but containment ~1, which is exactly the
    quote/boilerplate/sub-document duplication Jaccard misses (Broder's
    containment measure). Emits pairs where EITHER direction clears the
    threshold, with both containments and the Jaccard for triage.
    Cost model identical to the Jaccard join: ∝ Σ_shingle df² — and the
    same ABSOLUTE ``max_df`` posting cut applies (see
    ngram_jaccard_pairs): intersections undercount on capped shingles
    while sizes stay full, so containments/jaccard become lower bounds;
    default ``None`` stays exact."""
    assert threshold > 0.0, "inverted-index formulation requires threshold > 0"
    block = block_col or "__block"
    base = _fan_out(df).select(
        F.col(id_col),
        word_shingles(F.col(text_col), n).alias("sh"),
        *([F.col(block_col)] if block_col else [F.lit(1).alias("__block")]),
    )
    # hint("merge"): the inverted index is corpus-sized on BOTH sides and
    # the static size estimate of an explode chain is unreliable — a
    # mis-planned broadcast collects the corpus to the driver (the
    # observed failure mode in SCALE_EVIDENCE.md §1).
    #
    # As in ngram_jaccard_pairs, |A| rides the postings as ``sz``
    # (computed before any max_df cap, reconstructed exactly by min()
    # in the pair aggregate), replacing the separate ``sizes`` scan +
    # two joins with one int per posting.
    inv = base.select(
        F.col(id_col), F.col(block), F.size("sh").alias("sz"),
        F.explode("sh").alias("s"),
    )
    if max_df is not None:
        inv = _cap_postings(inv, block, max_df)
    inv = inv.hint("merge")
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(
            b,
            (F.col(f"a.{block}") == F.col(f"b.{block}"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.min("a.sz").alias("sz_a"),
            F.min("b.sz").alias("sz_b"),
        )
    )
    out = common.select(
        "id_a",
        "id_b",
        F.round(
            F.col("inter").cast("double") / F.col("sz_a"), 6
        ).alias("containment_ab"),
        F.round(
            F.col("inter").cast("double") / F.col("sz_b"), 6
        ).alias("containment_ba"),
        F.round(
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
            6,
        ).alias("jaccard"),
    )
    return out.filter(
        (F.col("containment_ab") >= threshold)
        | (F.col("containment_ba") >= threshold)
    )
