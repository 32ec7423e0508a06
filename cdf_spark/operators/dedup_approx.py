"""Near-duplicate detection: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Beyond-reference operators for training-data curation. Design:

- **exact_dedup** — hash-groupBy on a content fingerprint; one shuffle.
- **ngram_jaccard_pairs** — exact Jaccard over character shingles via
  explode + self-join on shingle. Quadratic in bucket size; the
  all-pairs form is the *verifier*, LSH is the scale path.
- **minhash_lsh_pairs** — shingle → k minhash values (higher-order
  functions over the shingle array: NO shuffle for signatures) →
  band buckets → candidate pairs from bucket joins (shuffle on band
  hash) → exact-Jaccard verification of candidates only. This is the
  100 TB path: cost is O(docs × k) + join on collisions.
- **simhash64** — 64-bit sign-aggregated token-hash fingerprint;
  near-dups have small Hamming distance, found via 4×16-bit band
  exact-match (Hamming ≤ 3 within banding guarantees).

Hashing: the default paths use JVM xxhash64 (fast, codegen'd); each
operator also offers `hash_fn="md5"` using the md5→bigint construction
(`hash64` in .text) whose every step is reproducible in DuckDB SQL —
those parity modes back the exact-match correctness oracles.
"""

from __future__ import annotations

from pathlib import Path

import numpy as _np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .similarity import _spread
from .text import content_fingerprint, hash64


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct character n-grams of a string (sorted for determinism)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(col) - n + 1, F.lit(0))),
        lambda i: col.substr(i, F.lit(n)),
    )
    return F.array_sort(F.array_distinct(grams))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact content fingerprint."""
    fp = content_fingerprint(F.col(text_col)).alias("_fp")
    return (
        df.select(fp, *df.columns)
        .groupBy("_fp")
        .agg(F.min(F.col(id_col)).alias("_keep"))
        .join(df, F.col("_keep") == F.col(id_col), "inner")
        .drop("_fp", "_keep")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All pairs (a,b), a<b, with |shingles(a) ∩ shingles(b)| /
    |shingles(a) ∪ shingles(b)| >= threshold.

    Shape: explode shingles -> self-join on shingle -> count
    intersections -> derive union from set sizes. The join key is the
    shingle, so common shingles dominate cost — use as verifier or on
    LSH candidates at scale.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        shingles(F.col(text_col), n).alias("sh"),
    ).withColumn("sz", F.size("sh"))

    exploded = sh.select("id", "sz", F.explode("sh").alias("g"))
    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                 F.col("a.sz").alias("sz_a"), F.col("b.sz").alias("sz_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = inter.withColumn(
        "jaccard",
        F.round(F.col("inter").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
    )
    return jac.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def ngram_jaccard_pairs_fast(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT Jaccard pairs via prefix filtering (AllPairs / PPJoin
    family — Bayardo et al. WWW'07, Xiao et al. WWW'08). Same output
    contract as ``ngram_jaccard_pairs`` — no approximation, no recall
    loss — but the candidate join explodes only each doc's PREFIX
    (its ``sz - ceil(t*sz) + 1`` globally-rarest grams) instead of
    every gram:

    1. gram-frequency table (char n-grams: vocabulary bounded by
       charset^n, tiny — broadcast);
    2. rank each doc's grams rare-first (one window shuffle on doc id,
       which also yields the set size — no per-row array needed);
    3. explode only the prefix; equi-join on prefix gram with the
       length filter ``min(sz) >= t*max(sz)`` AND the PPJoin
       positional filter: a prefix gram at rare-first rank ``rn``
       leaves at most ``1 + min(sz_a-rn_a, sz_b-rn_b)`` overlap, which
       must reach ``ceil(t/(1+t)*(sz_a+sz_b))`` (cuts candidates ~4x
       on hot-gram corpora);
    4. verify candidates exactly (strategy below — bitmap popcount or
       array_intersect; identical results).

    Lossless because two sets with J >= t share >= ceil(t*|A|) grams,
    so under ANY fixed total order their prefixes must intersect; the
    ceil is computed with a -1e-9 slack so float rounding can only
    LENGTHEN a prefix (more candidates), never shorten it (which could
    drop a true pair). Hot grams land at the back of the order and
    never enter a prefix, so join buckets are bounded by corpus
    diversity rather than gram popularity — the property the brute
    verifier lacks. At 100 TB: one map-side-combined frequency agg,
    one per-doc window, one candidate equi-join on rare grams, one
    verification join; nothing quadratic in corpus size.

    The gram stage is compute-heavy relative to its input bytes
    (~300 substrs + a distinct per row), so the input goes through
    ``_spread``: a small single-split fixture fans out to all cores,
    while a real at-scale scan (already thousands of splits) is left
    alone."""
    eps = F.lit(1e-9)
    t = F.lit(float(threshold))
    base = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt")), 512.0)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(F.col("_txt")) - n + 1, F.lit(0))),
            lambda i: F.col("_txt").substr(i, F.lit(n)),
        )
    )
    # The gram explode feeds EVERY downstream consumer (freq, the
    # prefix ranks on both self-join sides, the verify-side sets) and
    # the AQE-final plan re-derived the whole substr+distinct pipeline
    # — the dominant per-row CPU — once per consumer (8 corpus scans
    # measured r14). Pin the narrow (id, g) rows ONCE; downstream
    # re-reads of the pin are cheap. Pinning the later intermediates
    # too (freq/prefix/packed) measured SLOWER — four sequential eager
    # jobs cost more than re-running cheap aggs over this one pin —
    # so only the expensive-to-derive table is pinned (guide §1.1
    # empirical loop; §8 "decide with small rows").
    ex = base.select("id", F.explode(grams).alias("g")).localCheckpoint(eager=True)
    freq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("id").orderBy("c", "g")
    wsz = Window.partitionBy("id")
    pref_len = (F.col("sz") - F.ceil(t * F.col("sz") - eps) + 1).cast("int")
    prefix = (
        ex.join(F.broadcast(freq), "g")
        .select(
            "id",
            "g",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wsz).alias("sz"),
        )
        .filter(F.col("rn") <= pref_len)
    )
    def _pair_cond(a, b):
        # id order + length filter + PPJoin positional filter: a prefix
        # gram at rare-first rank rn leaves at most
        # 1 + min(sz_a-rn_a, sz_b-rn_b) overlap, which must reach the
        # required overlap ceil(t/(1+t)*(sz_a+sz_b)).
        alpha = F.ceil(
            F.lit(float(threshold) / (1.0 + float(threshold)))
            * (F.col("a.sz") + F.col("b.sz"))
            - eps
        )
        return (
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.least(F.col("a.sz"), F.col("b.sz")).cast("double")
                >= t * F.greatest(F.col("a.sz"), F.col("b.sz")) - eps
            )
            & (
                (F.lit(1) + F.least(F.col("a.sz") - F.col("a.rn"), F.col("b.sz") - F.col("b.rn")))
                >= alpha
            )
        )

    # Exact verification. Two strategies with identical results:
    # - SMALL VOCABULARY (low-entropy corpora, where candidate counts
    #   degenerate toward all-pairs because every gram is hot): pack
    #   each doc's shingle set into a fixed-width bitmap of longs
    #   (gram -> bit index over the frequency table we already built),
    #   ride the bitmap ON the prefix rows, and verify with
    #   popcount(AND) INSIDE the candidate join's projection — the
    #   candidate set is filtered to true pairs in the same stage it is
    #   produced, so the millions of raw candidates never cross a
    #   shuffle, and per-candidate cost is a handful of codegen'd
    #   integer ops (~100x cheaper than array_intersect's hash set).
    # - LARGE VOCABULARY (real text): prefix filtering prunes hard,
    #   candidates are few, and a bitmap would be impractically wide —
    #   dedup candidates, then verify with array_intersect on the full
    #   arrays.
    # The vocabulary size is already known (the freq table feeds the
    # prefix ranks); counting it is a scalar metadata action.
    vocab = freq.count()
    if vocab <= 1 << 10:
        # Scalar word columns w0..w{nw-1}, NOT an array: higher-order
        # functions (aggregate/zip_with) are interpreted per row, and
        # the popcount runs on every raw candidate — flat long columns
        # keep the whole verify inside whole-stage codegen.
        nw = (vocab + 63) // 64
        idx_w = Window.orderBy("g")
        idx = freq.select("g", (F.row_number().over(idx_w) - 1).alias("bit"))
        def _word(wd: int) -> Column:
            # closure, NOT a lambda default (HOF param-count trap)
            wlit = F.lit(wd)
            return F.aggregate(
                F.col("bits"),
                F.lit(0).cast("long"),
                lambda acc, i: acc.bitwiseOR(
                    F.when(
                        (i / 64).cast("int") == wlit,
                        # PySpark's shiftleft() wrapper only takes a
                        # Python-int shift; call the SQL function
                        # directly to shift by a lambda variable.
                        F.call_function(
                            "shiftleft", F.lit(1).cast("long"), (i % 64).cast("int")
                        ),
                    ).otherwise(F.lit(0).cast("long"))
                ),
            ).alias(f"w{wd}")

        word_cols = [_word(wd) for wd in range(nw)]
        # pa/pb both read this, but it folds from the pinned gram rows
        # — re-running the cheap pack agg beat pinning it (measured)
        packed = (
            ex.join(F.broadcast(idx), "g")
            .groupBy("id")
            .agg(F.collect_list("bit").alias("bits"))
            .select("id", F.size("bits").alias("sz"), *word_cols)
        )
        # Candidate join stays NARROW (id/sz/rn/g only — hot gram keys
        # produce tens of millions of raw matches, so row width and
        # per-match condition cost dominate), then dedup, THEN verify
        # the distinct pairs against the packed bitmaps.
        a, b = prefix.alias("a"), prefix.alias("b")
        cand = (
            a.join(b, _pair_cond(a, b))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        pa = packed.select(
            F.col("id").alias("id_a"),
            F.col("sz").alias("sz_a"),
            *[F.col(f"w{wd}").alias(f"a{wd}") for wd in range(nw)],
        )
        pb = packed.select(
            F.col("id").alias("id_b"),
            F.col("sz").alias("sz_b"),
            *[F.col(f"w{wd}").alias(f"b{wd}") for wd in range(nw)],
        )
        inter = sum(
            (F.bit_count(F.col(f"a{wd}").bitwiseAND(F.col(f"b{wd}"))) for wd in range(nw)),
            F.lit(0),
        )
        return (
            cand.join(pa, "id_a")
            .join(pb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.round(
                    inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - inter), 6
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )

    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, _pair_cond(a, b))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # consumed twice (sa/sb verify sides) — derive the shingle sets
    # from the pinned gram rows instead of re-running the substr
    # pipeline per side (collect_list over the pinned (id, g) rows is
    # the same distinct gram set; order is irrelevant to
    # array_intersect/size; docs with zero grams can never be
    # candidates, so their absence from the exploded rows is harmless)
    sh = (
        ex.groupBy("id")
        .agg(F.collect_list("g").alias("sh"))
        .withColumn("sz", F.size("sh"))
    )
    sa = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a"))
    sb = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signature(col: Column, n: int = 3, k: int = 32, hash_fn: str = "xxhash64") -> Column:
    """k-permutation MinHash signature of a string's shingle set.

    Each permutation i hashes the shingle with seed i and takes the
    min — computed per row with higher-order functions, no explode, no
    shuffle. hash_fn="xxhash64" stays JVM-native (fast path);
    hash_fn="md5" uses the DuckDB-parity construction for oracled
    comparisons.

    NB: raw grams, not the distinct/sorted set — min over a multiset
    equals min over its set, and skipping array_distinct/array_sort
    avoids re-sorting the gram array once per permutation (Catalyst
    does not CSE across the k expressions)."""
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(col) - n + 1, F.lit(0))),
        lambda i: col.substr(i, F.lit(n)),
    )
    if hash_fn == "xxhash64":
        def perm(i: int) -> Column:
            seed = F.lit(i)  # closure, NOT a lambda default (HOF param-count trap)
            return F.array_min(F.transform(sh, lambda g: F.xxhash64(seed, g)))
    else:
        def perm(i: int) -> Column:
            pre = F.lit(f"{i}:")
            return F.array_min(F.transform(sh, lambda g: hash64(F.concat(pre, g))))
    return F.array(*[perm(i) for i in range(k)])


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    bucket_cap: int | None = 200,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash LSH candidate generation + exact-Jaccard verification.

    bands of r=k/bands rows: P(candidate) = 1-(1-j^r)^bands — with
    k=32, bands=8 (r=4): ~0.97 at j=0.8, ~0.33 at j=0.5. Candidates
    are verified with exact Jaccard so the output has NO false
    positives; banding only bounds recall.

    ``bucket_cap`` drops band buckets holding more than that many
    docs: on low-entropy corpora (tiny shared vocabulary) minhash
    order statistics concentrate and some buckets degenerate to
    "most of the corpus" — they carry no discriminative signal but
    cost O(bucket²) in the candidate join. Capping is the standard
    production guard; genuinely similar pairs still collide in their
    other, smaller buckets.
    """
    r = k // bands
    # Compute-bound projection: shingle extraction + k permutation
    # hashes cost ~100 ops per text byte, so small-bytes corpora badly
    # under-parallelize on byte-driven splits. _spread widens only
    # when the estimated work pays (and never re-shuffles a corpus the
    # scan already split wide).
    if hash_fn == "xxhash64":
        # Fast path: grams hashed ONCE (materialized column), then the
        # k permutations remix the base hash — xxhash64(seed, h). The
        # naive form re-extracts+re-hashes the gram strings per
        # permutation because Catalyst doesn't CSE across the k
        # expressions: measured 5.5s vs 0.5s at sf0.1.
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(F.col(text_col)) - n + 1, F.lit(0))),
            lambda i: F.col(text_col).substr(i, F.lit(n)),
        )
        # (id, gram-hash array) is consumed twice — by the k signature
        # permutations here and by the verify stage below — and gram
        # extraction (|text| substr calls/row) dominates both. Persist
        # so it is computed once; the frame is ~|corpus| longs, far
        # smaller than the text it replaces.
        base = (
            _spread(df, 100.0)
            .select(
                F.col(id_col).alias("id"),
                F.transform(grams, lambda g: F.xxhash64(g)).alias("_h"),
            )
            .persist()
        )

        def perm(i: int) -> Column:
            seed = F.lit(i)
            return F.array_min(F.transform(F.col("_h"), lambda h: F.xxhash64(seed, h)))

        sig = base.select("id", F.array(*[perm(i) for i in range(k)]).alias("sig"))
    else:
        sig = _spread(df, 100.0).select(
            F.col(id_col).alias("id"),
            minhash_signature(F.col(text_col), n, k, hash_fn=hash_fn).alias("sig"),
        )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", F.slice(F.col("sig"), b * r + 1, r)).alias("bh"),
        )
        for b in range(bands)
    ]
    # banding carries ONLY (id, sig, band, bh): text stays out of the
    # persist and the self-join; the verify step re-attaches per-DOC
    # shingle sets by join, so shingles are extracted once per document
    # instead of once per candidate pair per expression reference
    # (Catalyst does not CSE repeated shingles(txt) expressions —
    # measured 3.3s -> 0.5s on the verify stage at sf0.1).
    banded = sig.select("id", "sig", F.explode(F.array(*band_structs)).alias("bb")).select(
        "id", "sig", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    if bucket_cap is not None:
        wcount = Window.partitionBy("band", "bh")
        banded = (
            banded.withColumn("_bc", F.count(F.lit(1)).over(wcount))
            .filter(F.col("_bc") <= bucket_cap)
            .drop("_bc")
        )

    # the self-join would otherwise recompute the signature chain for
    # BOTH sides; banded is tiny (docs x bands rows), so persist it
    banded = banded.persist()
    a, b = banded.alias("a"), banded.alias("b")
    raw_pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.id") < F.col("b.id")),
    )
    if hash_fn == "xxhash64":
        # Estimate-first pruning BEFORE the dedup shuffle: the fraction
        # of agreeing signature components is an unbiased Jaccard
        # estimate, evaluated per banded collision row so the heavy
        # columns never enter the dropDuplicates exchange.
        # P(miss | true j>=0.8, k=32, floor=threshold-0.3) < 1e-3 —
        # fast path only; the md5/oracle path stays SQL-reproducible.
        est = (
            F.size(
                F.filter(
                    F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
                    lambda m: m,
                )
            ).cast("double")
            / F.lit(k)
        )
        raw_pairs = raw_pairs.filter(est >= threshold - 0.3)
    candidates = raw_pairs.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
    ).dropDuplicates(["id_a", "id_b"])

    # exact verification on candidates only: per-doc distinct shingle
    # sets materialized once, attached by join (docs ≪ candidates² and
    # the sets are reused across every pair a doc appears in).
    # Fast path verifies over HASHED shingles (array<bigint>) instead
    # of the raw 5-char strings: set ops on longs are ~5x cheaper than
    # on UTF8 strings (measured 2.7s -> 0.5s at sf0.1) and Jaccard is
    # exact modulo 64-bit collisions (< 1e-13 for ~1e3-gram docs). The
    # md5/oracle path keeps string sets so the SQL oracle reproduces
    # it verbatim.
    if hash_fn == "xxhash64":
        sh_df = base.select(
            F.col("id").alias("_sid"), F.array_distinct(F.col("_h")).alias("_sh")
        )
    else:
        sh_df = df.select(
            F.col(id_col).alias("_sid"), shingles(F.col(text_col), n).alias("_sh")
        )
    cand = (
        candidates.join(
            sh_df.select(F.col("_sid").alias("id_a"), F.col("_sh").alias("sh_a")), on="id_a"
        )
        .join(sh_df.select(F.col("_sid").alias("id_b"), F.col("_sh").alias("sh_b")), on="id_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    verified = cand.withColumn(
        "jaccard", F.round(inter.cast("double") / union, 6)
    ).filter(F.col("jaccard") >= threshold)
    return verified.select("id_a", "id_b", "jaccard")


def simhash64(col: Column, hash_fn: str = "xxhash64") -> Column:
    """64-bit SimHash over whitespace tokens.

    For each bit position: sum over tokens of (+1 if token-hash bit
    set else -1); the fingerprint bit is the sign. Pure higher-order
    functions — per-row compute, no shuffle. 60 usable bits (token
    hashes are masked to bits 0..59).

    hash_fn="xxhash64" is the JVM fast path; "md5" uses the
    DuckDB-parity construction so the whole simhash is reproducible in
    the SQL oracle.
    """
    tokens = F.filter(F.split(col, " "), lambda t: F.length(t) > 0)
    if hash_fn == "md5":
        hashes = F.transform(tokens, lambda t: hash64(t))  # 60-bit by construction
    else:
        hashes = F.transform(tokens, lambda t: F.xxhash64(t).bitwiseAND(F.lit((1 << 60) - 1)))
    # one fold per bit; bit index is a Python int (shiftright requires it).
    # NB: the merge lambda must take exactly 2 params — PySpark binds a
    # lambda variable per parameter (defaults included), so close over i.
    def _vote(i: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    sig = F.lit(0).cast("bigint")
    for i in range(60):
        vote = F.aggregate(hashes, F.lit(0), _vote(i))
        sig = sig + F.when(vote > 0, F.lit(1 << i).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    return sig


def _simhash_hybrid(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """SimHash signature stage, hybrid JVM+numpy (bit-identical to
    simhash64, measured 2x): token hashes JVM-side, the 60-bit vote
    fold vectorized in one pandas UDF. Output: (id, sh)."""
    tokens = F.filter(F.split(F.col(text_col), " "), lambda t: F.length(t) > 0)
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(tokens, lambda t: F.xxhash64(t).bitwiseAND(F.lit((1 << 60) - 1))).alias("_th"),
    )

    @F.pandas_udf(T.LongType())
    def votes(hs: pd.Series) -> pd.Series:
        out = _np.zeros(len(hs), dtype=_np.int64)
        shifts = _np.arange(60, dtype=_np.uint64)
        for i, arr in enumerate(hs):
            a = _np.asarray(arr, dtype=_np.uint64)
            if a.size == 0:
                continue
            bits = (a[:, None] >> shifts) & _np.uint64(1)
            v = 2 * bits.astype(_np.int32).sum(0) - a.size
            out[i] = _np.int64(_np.sum((v > 0).astype(_np.uint64) << shifts))
        return pd.Series(out)

    return hashed.select("id", votes(F.col("_th")).alias("sh"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash banding: 4 bands of 15 bits — any
    pair within Hamming distance 3 shares at least one exact band.
    Candidates verified with an exact popcount.

    hash_fn="md5" routes through the SQL-parity token hash (oracled
    correctness path); default xxhash64 uses the numpy hybrid."""
    if hash_fn == "md5":
        sig = _spread(df, 100.0).select(
            F.col(id_col).alias("id"), simhash64(F.col(text_col), hash_fn="md5").alias("sh")
        )
    else:
        sig = _simhash_hybrid(_spread(df, 100.0), text_col=text_col, id_col=id_col)
    # the banded self-join consumes `sig` on BOTH sides, and the
    # AQE-final plan re-derives the whole signature pipeline (corpus
    # scan + tokenize + the 60-bit vote fold) per side — measured r14:
    # 2 scans / 2 ArrowEvalPython (hybrid) in one action. The pin is
    # (id, sh) = 2 longs per doc, the cheapest possible proxy for the
    # heaviest subtree here (guide §5 localCheckpoint, §8 "decide with
    # small rows"). Applies to both hash paths; values unchanged.
    sig = sig.localCheckpoint(eager=True)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("sh"), b * 15).bitwiseAND(F.lit((1 << 15) - 1)).alias("bh"),
        )
        for b in range(4)
    ]
    bands = sig.select("id", "sh", F.explode(F.array(*band_structs)).alias("bb")).select(
        "id", "sh", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )

    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    hamming = F.bit_count(xor)
    return cand.withColumn("hamming", hamming).filter(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


def dedup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs: every id maps to
    its cluster representative (the minimum reachable id).

    Iterative min-label propagation — per round, each node adopts the
    smallest label among itself and its neighbors; converges in
    O(cluster diameter) rounds (near-dup clusters are shallow). Each
    round is one join + one aggregation; the driver loop checks a
    convergence count, which is how iterative algorithms look on Spark
    (no recursion in the DataFrame algebra).

    Output: (id_col, cluster) for EVERY input id; singletons map to
    themselves.

    Scale note: each round's result is materialized with
    localCheckpoint(eager=True), which TRUNCATES the logical plan.
    persist() alone caches data but keeps the accreted lineage — a
    20-round loop otherwise carries every prior round's joins in one
    plan (observed: 78 shuffles / 76 scans in a single audited plan),
    exploding plan compile time, scheduling, and recomputation on
    cache eviction at 100x scale. With truncation every executed round
    is a constant ~3-shuffle plan over the previous checkpoint — and
    each round's blocks are RELEASED once the next round materializes
    (checkpoints have no lineage, so unreleased rounds would pin one
    full label-set copy per iteration in executor storage for the rest
    of the session). The final round's blocks stay: they back the
    returned DataFrame.
    """
    from ..plans.checkpoint import release_local_checkpoint

    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_ckpt = ids.select(F.col(id_col).alias("id"), F.col(id_col).alias("label")).localCheckpoint(
        eager=True
    )
    labels = prev_ckpt

    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        # one pass computes the new labels AND the changed count: the
        # count RIDES the checkpoint job itself as an observed metric
        # (r14, the §9.3 observe-on-checkpoint pattern the star-CC loop
        # banked), so convergence detection adds ZERO extra jobs —
        # previously it was a second agg job over the just-pinned table
        # every round.
        obs = Observation()
        new_labels = (
            labels.join(neighbor_min, on="id", how="left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
                (F.coalesce("nlabel", "label") < F.col("label")).cast("int").alias("_changed"),
            )
            .observe(obs, F.coalesce(F.sum("_changed"), F.lit(0)).alias("changed"))
            .localCheckpoint(eager=True)
        )
        changed = int(obs.get["changed"])
        # the new round is materialized (eager) — the previous round's
        # blocks can never be read again; free them now
        release_local_checkpoint(prev_ckpt)
        prev_ckpt = new_labels
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    release_local_checkpoint(edges)  # the result reads labels only
    return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster"))


def fingerprint_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    threshold: float = 0.6,
) -> DataFrame:
    """Winnowing-fingerprint containment: directed pairs (a, b) where
    the sampled-fingerprint set of `a` is mostly contained in `b`'s —
    |fp(a) ∩ fp(b)| / |fp(a)| >= threshold. ASYMMETRIC by design:
    catches quotes/excerpts/supersets that symmetric Jaccard dilutes
    away (the classic winnowing use).

    Scale shape: explode the 1/16-sampled fingerprint sets (≈ |text|/16
    rows per doc, 16x smaller than full shingling), equi-join on hash,
    count per pair — one shuffle on the fingerprint hash, one on the
    pair. Degenerate hot hashes cost O(bucket²) like any inverted
    index; the mod-16 sampling keeps buckets proportionally small.
    """
    from .text import rolling_fingerprints

    fp = df.select(
        F.col(id_col).alias("id"), rolling_fingerprints(F.col(text_col), window).alias("_fp")
    )
    ex = fp.select("id", F.size("_fp").alias("sz"), F.explode("_fp").alias("h"))
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") != F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), F.col("a.sz").alias("sa")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    containment = F.round(F.col("inter").cast("double") / F.col("sa"), 6)
    return (
        pairs.filter(F.col("sa") > 0)
        .withColumn("containment", containment)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


class MinHashLSHIndex:
    """Persisted MinHash-LSH INDEX for INCREMENTAL near-dup: build once
    over the corpus, then probe each new batch against the stored band
    buckets — O(batch x collisions), never re-joining corpus x corpus
    (the whole point of indexing a continuously-ingested corpus; plain
    `minhash_lsh_pairs` re-pays the full self-join every run).

    Layout under `root/`: `bands/` (id, band, bh — the bucket index,
    written partitioned by `band` so a probe's band-equi-join prunes
    to matching band directories), `shingles/` (id + the doc's
    distinct shingle set, for exact-Jaccard verification of
    candidates), `meta.json` (n, k, bands, hash_fn — probes must hash
    identically or buckets are meaningless, so query() re-reads and
    enforces these). `add()` appends a batch to both tables — the
    incremental ingest path.

    hash_fn="md5" keeps the DuckDB-parity construction end-to-end so
    an index-backed probe is exact-oracled; "xxhash64" is the fast
    deploy twin (same structure, JVM-native hashing over hashed
    shingles)."""

    def __init__(self, root: str | Path):
        self.root = Path(root)

    # -- shared banded-signature projection --------------------------------
    @staticmethod
    def _project(
        df: DataFrame, text_col: str, id_col: str, n: int, k: int, bands: int, hash_fn: str
    ) -> tuple[DataFrame, DataFrame]:
        """(banded bucket rows, per-doc shingle sets) for one batch —
        the same signature/banding construction `minhash_lsh_pairs`
        uses, emitted as two joinable frames instead of a self-join."""
        r = k // bands
        # docs shorter than one shingle carry no signal (the oracle's
        # `WHERE len(gs) >= 1` guard)
        df = df.filter(F.length(F.col(text_col)) >= n)
        sig = _spread(df, 100.0).select(
            F.col(id_col).alias("id"),
            minhash_signature(F.col(text_col), n, k, hash_fn=hash_fn).alias("sig"),
        )
        band_structs = [
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("|", F.slice(F.col("sig"), b * r + 1, r)).alias("bh"),
            )
            for b in range(bands)
        ]
        banded = sig.select(
            "id", F.explode(F.array(*band_structs)).alias("bb")
        ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
        if hash_fn == "xxhash64":
            sh = df.select(
                F.col(id_col).alias("id"),
                F.array_distinct(
                    F.transform(
                        F.sequence(
                            F.lit(1),
                            F.greatest(F.length(F.col(text_col)) - n + 1, F.lit(0)),
                        ),
                        lambda i: F.xxhash64(F.col(text_col).substr(i, F.lit(n))),
                    )
                ).alias("sh"),
            )
        else:
            sh = df.select(
                F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh")
            )
        return banded, sh

    def _meta(self) -> dict:
        import json as _json

        return _json.loads((self.root / "meta.json").read_text())

    def build(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 5,
        k: int = 32,
        bands: int = 8,
        hash_fn: str = "xxhash64",
    ) -> dict:
        import json as _json

        banded, sh = self._project(df, text_col, id_col, n, k, bands, hash_fn)
        banded.write.mode("overwrite").partitionBy("band").parquet(
            str(self.root / "bands")
        )
        sh.write.mode("overwrite").parquet(str(self.root / "shingles"))
        meta = {"n": n, "k": k, "bands": bands, "hash_fn": hash_fn}
        self.root.mkdir(parents=True, exist_ok=True)
        # atomic tmp+rename (the family's meta-swap discipline): a
        # crash mid-write must not leave a torn meta.json
        tmp_meta = self.root / "meta.json.tmp"
        tmp_meta.write_text(_json.dumps(meta))
        tmp_meta.replace(self.root / "meta.json")
        return meta

    def add(self, df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> None:
        """Incremental ingest: append a batch's bands + shingles under
        the INDEX's recorded parameters (a batch hashed differently
        would never collide with existing buckets)."""
        m = self._meta()
        banded, sh = self._project(
            df, text_col, id_col, m["n"], m["k"], m["bands"], m["hash_fn"]
        )
        banded.write.mode("append").partitionBy("band").parquet(str(self.root / "bands"))
        sh.write.mode("append").parquet(str(self.root / "shingles"))

    def query(
        self,
        spark: SparkSession,
        batch: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.8,
        bucket_cap: int | None = 200,
    ) -> DataFrame:
        """Near-dups of `batch` docs against the INDEXED corpus:
        (batch_id, corpus_id, jaccard) for exact Jaccard >= threshold.
        The probe bands equi-join the stored bucket table (partitioned
        by band -> partition-pruned scan), candidates dedup, and exact
        verification joins the stored corpus shingle sets — the batch's
        own text is shingled locally. The corpus is touched only at
        its collision rows."""
        m = self._meta()
        banded_q, sh_q = self._project(
            batch, text_col, id_col, m["n"], m["k"], m["bands"], m["hash_fn"]
        )
        idx = spark.read.parquet(str(self.root / "bands"))
        if bucket_cap is not None:
            wcount = Window.partitionBy("band", "bh")
            idx = (
                idx.withColumn("_bc", F.count(F.lit(1)).over(wcount))
                .filter(F.col("_bc") <= bucket_cap)
                .drop("_bc")
            )
        cand = (
            idx.alias("c")
            .join(
                banded_q.alias("q"),
                (F.col("c.band") == F.col("q.band")) & (F.col("c.bh") == F.col("q.bh")),
            )
            .filter(F.col("c.id") != F.col("q.id"))
            .select(F.col("q.id").alias("id_batch"), F.col("c.id").alias("id_corpus"))
            .dropDuplicates(["id_batch", "id_corpus"])
        )
        sh_c = spark.read.parquet(str(self.root / "shingles"))
        pairs = cand.join(
            sh_q.select(F.col("id").alias("id_batch"), F.col("sh").alias("sh_b")),
            on="id_batch",
        ).join(
            sh_c.select(F.col("id").alias("id_corpus"), F.col("sh").alias("sh_c")),
            on="id_corpus",
        )
        inter = F.size(F.array_intersect(F.col("sh_b"), F.col("sh_c")))
        union = F.size(F.col("sh_b")) + F.size(F.col("sh_c")) - inter
        return (
            pairs.withColumn(
                "jaccard",
                F.round(inter.cast("double") / union.cast("double"), 6),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_batch", "id_corpus", "jaccard")
        )


def leakage_safe_split(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    test_mod: int = 10,
) -> DataFrame:
    """Leakage-safe train/test split: near-duplicate CLUSTERS are the
    atomic unit — a document and its near-dups can never straddle the
    boundary (the standard eval-hygiene failure: a test doc whose
    near-copy sits in train leaks the answer; real pipelines split by
    cluster/URL-group for exactly this reason). Every connected
    component of the `pairs` graph (plus every singleton) lands
    wholly in test iff hash64(cluster id) % test_mod == 0 — the
    deterministic md5-parity rule, so the split is reproducible
    run-to-run, engine-to-engine, and at any partitioning.

    Output: (id_col, cluster, split) with split ∈ {'train','test'}.

    Scale: clustering is `dedup_clusters` (min-label propagation,
    O(diameter) bounded rounds); the side assignment is one narrow
    hash projection — no extra shuffle."""
    from .text import hash64

    clusters = dedup_clusters(ids, pairs, id_col=id_col)
    side = F.when(
        hash64(F.col("cluster").cast("string")) % test_mod == 0, F.lit("test")
    ).otherwise(F.lit("train"))
    return clusters.select(id_col, "cluster", side.alias("split"))
