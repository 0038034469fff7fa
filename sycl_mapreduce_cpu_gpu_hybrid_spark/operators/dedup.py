"""Deduplication operators for LLM-training-data pipelines.

Four tiers, all shuffle-bounded (never all-pairs):

- exact_dedup: hash-groupBy on normalized text — one shuffle on a
  16-byte key; the canonical first pass at any scale.
- minhash_signatures / minhash_lsh_pairs: k-shingle (reusing the
  k-mer Map kernel — shingles ARE k-mers, operators/kmer.py:50) ->
  per-seed min-hash signature -> banded LSH. Candidate pairs come
  from equal (band_idx, band_hash) buckets only, so the join degree
  is bucket-bounded, with an explicit cap on pathological buckets.
- simhash: 64-bit per-doc fingerprint via sign-of-weighted-bit-sums;
  near-dups have small Hamming distance. Banded by 16-bit quarters
  for bucketing (any pair within Hamming<=3 shares a quarter).
- ngram_jaccard_pairs: exact verify stage — inverted shingle index
  join with a document-frequency cap (stop-shingles dropped), so hot
  shingles cannot explode the join.

Hashing is xxhash64 (JVM built-in, seedable) by default, with no
Python in any row path of these four tiers. MinHash and SimHash also
take ``portable=True``, the md5-derived family of functions/porthash.py
that DuckDB replays bit-identically. It costs 1.5-3.4x the xxhash64
form (see minhash_signatures), so the production pair queries
(dedup_minhash_pairs, dedup_simhash_pairs) keep xxhash64 and only the
oracle-replayed ones (dedup_minhash_portable, text_simhash) pay for
md5. embedding_lsh_pairs projects onto md5-derived Rademacher planes
only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import fan_out
from .kmer import kmer_explode


def normalize_text(col: F.Column | str) -> F.Column:
    """Canonical text form for exact dedup: lowercase, trim, collapse
    internal whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct normalized text: representative (min id),
    copy count, and the 128-bit content hash. GroupBy on md5 keeps the
    shuffle key fixed-width regardless of document size."""
    return (
        docs.select(F.col(id_col), F.md5(normalize_text(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles(
    docs: DataFrame, k: int = 6, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct k-character shingles per document — the k-mer Map
    kernel with the count semantics replaced by set semantics."""
    return (
        kmer_explode(
            # downstream consumers hash every shingle up to 64x, so the
            # per-row work justifies fanning out even a small corpus
            fan_out(docs.select(id_col, text_col)),
            k=k,
            text_col=text_col,
            keep_cols=[id_col],
        )
        .select(id_col, F.col("word").alias("shingle"))
        .distinct()
    )


def minhash_signatures(
    docs: DataFrame,
    k: int = 6,
    num_hashes: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Per-doc MinHash signature: array of ``num_hashes`` min-over-
    shingles hash values. One explode + one groupBy; the signature
    build is ``num_hashes`` independent min aggregates, all map-side
    combined, so the shuffle carries one row per doc.

    Two deliberate cost cuts vs the naive form:
    - no shingle distinct: min over a multiset equals min over its
      set, so the dedup shuffle is pure overhead here;
    - double hashing: the i-th hash derives from two base xxhash64
      evaluations as h1 XOR rotl(h2, 1 + i mod 63), not ``num_hashes``
      full string hashes per shingle. (The additive h1 + i*h2 family
      would overflow ANSI long arithmetic; xor-rotate stays bitwise
      and is an equally serviceable uniform family for min-hash —
      estimate quality is asserted against exact Jaccard in tests.)

    ``portable=True`` swaps xxhash64 for the md5-derived affine
    family (functions/porthash.py): ONE md5 per shingle reduced mod
    MINHASH_PRIME, and the i-th hash is ``(a_i * h + b_i) % p`` with
    per-component constants (a_i, b_i) from minhash_affine_coeffs —
    the classic MinHash permutation family (what MLlib's MinHashLSH
    draws from an RNG), in arithmetic DuckDB replays bit-identically.
    (Round 4: previously one full md5 PER SEED — num_hashes× the hash
    cost; a shared Carter-Wegman (a, b) pair per shingle was tried in
    between but correlates the component argmins and biases the
    pairwise estimate, so the constants moved to the components.)
    """
    sh = kmer_explode(
        # per-shingle work is 2 base hashes + num_hashes derived mins,
        # not a count: fanning out wins even below kmer_explode's
        # slice-frame floor (measured ~1.6x on the sf0.1 corpus). The
        # portable md5 family is NOT as cheap: 64-hash signatures ran
        # 1.34 vs 0.71 s on the sf0.1 docs and 8.65 vs 2.56 s on the
        # docs tiled 16x (4 cores, medians of 5 alternating noop sinks)
        fan_out(docs.select(id_col, text_col)),
        k=k,
        text_col=text_col,
        keep_cols=[id_col],
    )
    # The per-component min aggregates are authored as ONE SQL string
    # per column (F.expr), not as Column-method chains: each Column op
    # is a py4j socket roundtrip, and 64 components x ~8 ops cost a
    # measured ~1.4s of pure declaration-time overhead per invocation
    # (cProfile: 7,351 roundtrips) — string assembly is free and parses
    # to the identical expression tree.
    if portable:
        from ..functions.porthash import (
            MINHASH_PRIME,
            minhash_affine_coeffs,
            portable_base_hash,
        )

        coeffs = minhash_affine_coeffs(num_hashes)
        sh = sh.select(id_col, portable_base_hash("word").alias("_h"))
        mins = sh.groupBy(id_col).agg(
            *[
                F.expr(f"min(({a} * _h + {b}) % {MINHASH_PRIME}) AS _m{i}")
                for i, (a, b) in enumerate(coeffs)
            ]
        )
        return mins.select(
            id_col,
            F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("signature"),
        )

    sh = sh.select(
        id_col,
        F.xxhash64("word", F.lit(1)).alias("_h1"),
        F.xxhash64("word", F.lit(2)).alias("_h2"),
    )

    def _h_sql(i: int) -> str:
        rot = 1 + (i % 63)
        return (
            f"(_h1 ^ (shiftleft(_h2, {rot}) | shiftrightunsigned(_h2, {64 - rot})))"
        )

    mins = sh.groupBy(id_col).agg(
        *[F.expr(f"min({_h_sql(i)}) AS _m{i}") for i in range(num_hashes)]
    )
    return mins.select(
        id_col, F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("signature")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 6,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH, scored by
    estimated Jaccard (fraction of equal signature components).

    With ``portable=True`` and r=1 (bands == num_hashes) the result is
    fully SQL-expressible: any pair with est > 0 shares a signature
    component, hence a band bucket, so (bucket caps aside) the pair
    set equals {pairs with est >= threshold} — which a DuckDB oracle
    computes by brute-force signature comparison.

    rows/bands r = num_hashes/bands; a pair with true Jaccard j
    collides in some band with prob 1-(1-j^r)^bands (r=4, 16 bands:
    j=0.7 -> ~99%, j=0.3 -> ~12%). Buckets larger than ``max_bucket``
    are dropped (degenerate content — their pairs explode
    quadratically and are near-certain boilerplate at scale).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    sigs = minhash_signatures(docs, k, num_hashes, text_col, id_col, portable=portable)
    # The signature stage feeds THREE consumers (banding + both
    # pair-side rejoins). Runtime AQE exchange reuse is only partial
    # for this shape (1 ReusedExchange of the duplicated subplans —
    # the explode + min-agg lineage still replayed), so persist
    # materializes it once explicitly; signatures are compact (~id +
    # 8B x num_hashes per doc — orders of magnitude below the
    # exploded shingle stream) and MEMORY_AND_DISK spills rather than
    # OOMs at corpus scale. Measured ~15-35% off the whole pipeline
    # at sf0.1; pinned by tests/test_plans.py. Lifetime: the persist
    # must outlive the returned lazy frame, so it is not unpersisted
    # here — the harnesses (bench.py, tests/parity.py) clearCache()
    # between queries; other long-lived sessions should do the same
    # after materializing the result.
    from pyspark import StorageLevel

    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)

    # band the IDS ONLY: duplicating the full signature array into
    # every band row would multiply the band shuffle by
    # bands x num_hashes x 8 bytes per doc (e.g. 64 hashes x 16 bands
    # = ~8 KB/doc instead of ~8 B/doc) — at corpus scale the dominant
    # shuffle of the whole pipeline. Signatures rejoin per candidate
    # pair below, where cardinality is already bucket-capped.
    banded = sigs.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}),"
                f" b -> xxhash64(slice(signature, b * {r} + 1, {r}), b))"
            )
        ).alias("band_idx", "band_hash"),
    )
    buckets = banded.groupBy("band_idx", "band_hash").agg(
        F.collect_list(F.col(id_col)).alias("members")
    )
    small = buckets.where(
        (F.size("members") >= 2) & (F.size("members") <= max_bucket)
    )
    # in-bucket pairs, deduplicated across bands by (a, b) distinct
    pairs = (
        small.select(F.sort_array("members").alias("ms"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ms, (x, i) ->"
                    " transform(slice(ms, i + 2, size(ms)),"
                    " y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .dropDuplicates(["a", "b"])
    )
    sa = sigs.select(F.col(id_col).alias("a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("b"), F.col("signature").alias("sig_b"))
    est = (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            (
                F.expr(
                    "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))"
                ).cast("double")
                / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
        )
    )
    return est.where(F.col("est_jaccard") >= threshold)


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """64-bit SimHash over whitespace tokens: bit i of the fingerprint
    is the sign of sum over tokens of (+-1 per token-hash bit i).
    Computed as 64 conditional-sum aggregates — one shuffle row per
    doc, no Python.

    ``portable=True`` uses the 60-bit md5-derived token hash
    (functions/porthash.py) and a 60-bit fingerprint, so a DuckDB
    oracle can rebuild the fingerprint bit-identically (no sign-bit
    special case — the value stays non-negative)."""
    n_bits = 60 if portable else 64
    # spread the scan before the explode: every token row feeds
    # n_bits conditional-sum updates in the map-side partial agg, and
    # below ~cluster scale the corpus arrives as one split
    docs = fan_out(docs, min_bytes=1_000_000)
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(text_col), " ")).alias("tok"),
    ).where(F.length("tok") > 0)
    if portable:
        from ..functions.porthash import portable_hash64

        hashed = toks.select(id_col, portable_hash64("tok").alias("h"))
    else:
        hashed = toks.select(id_col, F.xxhash64("tok").alias("h"))
    # one F.expr string per aggregate column (not Column chains): many
    # aggregates x ~6 py4j roundtrips each is ~0.5s of declaration
    # overhead in the chained form — see minhash_signatures.
    #
    # The +-1 sum for bit i is recovered from plain bit counts plus one
    # token count: sum(+-1) = 2*sum(bit i) - n, so "sum positive" is
    # "2*s_i > n". The bit counts themselves are PACKED two per
    # aggregate buffer — bit i in the low 32 bits, bit i+half in the
    # high 32 — halving the per-row aggregate-update loop (the hot
    # path: every token row updates every buffer). Lane overflow needs
    # a doc of >2^31 tokens (each addend <= 2^32 + 1), far beyond any
    # real document. Measured at sf1: 1.41s (64 CASE sums) -> 1.09s
    # (32 packed shift-and sums), bit-identical fingerprints.
    half = n_bits // 2  # n_bits is 60 or 64, both even
    bit_sums = hashed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.expr(
                f"sum(((h >> {i}) & 1) + (((h >> {i + half}) & 1) << 32)) AS _p{i}"
            )
            for i in range(half)
        ],
    )
    # assemble the fingerprint: set bit i where the +-1 sum is
    # positive (2*s_i > n). In the 64-bit form, bit 63 is added as the
    # long's min value to keep the arithmetic in signed range without
    # overflow surprises.
    def _lane(i: int) -> str:
        if i < half:
            return f"(_p{i} & 4294967295)"
        return f"((_p{i - half} >> 32) & 4294967295)"

    # lane-overflow guard: evaluated once per DOC row (not per token),
    # so the cost is nil; wrap would otherwise be silent
    bit_sums = bit_sums.where(
        F.expr(
            "CASE WHEN _n >= 2147483648 THEN"
            " raise_error('simhash: doc exceeds 2^31 tokens — packed"
            " bit-sum lanes would overflow') ELSE true END"
        )
    )

    expr = " + ".join(
        f"(CASE WHEN 2 * {_lane(i)} > _n THEN CAST(1 AS BIGINT) << {i} ELSE 0 END)"
        for i in range(min(n_bits, 63))
    )
    fp = F.expr(expr)
    if n_bits == 64:
        fp = fp + F.expr(
            f"CASE WHEN 2 * {_lane(63)} > _n"
            " THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END"
        )
    return bit_sums.select(id_col, fp.alias("simhash"))


def hamming64(a: F.Column | str, b: F.Column | str) -> F.Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of
    the XOR — JVM built-in)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int = 200,
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on each 16-bit quarter (a pair
    within Hamming<=3 must agree on at least one quarter — pigeonhole),
    then verify the full distance inside buckets only."""
    fp = simhash(docs, text_col, id_col)
    quarters = fp.select(
        id_col,
        "simhash",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 3), q -> (simhash >> (q * 16)) & 65535)"
            )
        ).alias("q_idx", "q_val"),
    )
    buckets = quarters.groupBy("q_idx", "q_val").agg(
        F.collect_list(F.struct(id_col, "simhash")).alias("members")
    )
    small = buckets.where((F.size("members") >= 2) & (F.size("members") <= max_bucket))
    pairs = (
        small.select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (m, i) ->"
                    " transform(slice(members, i + 2, size(members)),"
                    f" o -> struct(least(m.{id_col}, o.{id_col}) AS a,"
                    f" greatest(m.{id_col}, o.{id_col}) AS b,"
                    " m.simhash AS ha, o.simhash AS hb))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b", "p.ha", "p.hb")
    )
    # dedup AFTER the hamming filter: the bit_count verify is a cheap
    # per-row JVM op, so re-scoring the few cross-quarter duplicate
    # pairs beats shuffling the whole candidate stream just to dedup it
    # (same rewrite as embedding_lsh_pairs)
    return (
        pairs.select("a", "b", hamming64("ha", "hb").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a", "b"])
    )


# Bounded dense tier for UNCAPPED pair generation (the recall
# certificates' truth replays, which are sample-budget-bounded by
# construction): ceiling on total index memberships (sum of |ds|) and
# on the dense incidence-matrix entries. Same cost-based-tier class as
# the triangle gemm / CC union-find (plans/budget.py).
NGRAM_DENSE_MAX_MEMBERSHIPS = 8_000_000
NGRAM_DENSE_MAX_CELLS = 128_000_000


def _ngram_pairs_dense(idx: DataFrame, threshold: float, id_type: str):
    """Driver-local dense-gemm twin of the uncapped pair pipeline:
    with no df cap, a duplicate-dense truth sample makes every hot
    shingle emit C(df, 2) pair instances (measured 147M instances from
    a 1975-doc sample at sf0.1 — ~16s of explode+count for 3.1M
    distinct pairs), while the SAME intersection counts are one
    incidence-matrix gemm: I = A @ A.T over docs x distinct-shingles
    0/1 floats — exact in float32 (every partial sum is an integer
    <= |shingles| << 2^24). Probes the persisted index (count-first on
    memberships and matrix cells); None past either ceiling or under
    the forced-distributed switch, falling through to the distributed
    explode. Jaccard replicates the engine's round(x, 4) HALF_UP via
    floor(x*1e4 + 0.5) — full-row equality vs the distributed twin is
    pinned in tests/test_budget_tiers.py."""
    import numpy as np
    import pandas as pd

    from ..plans.budget import local_tier_enabled

    if not local_tier_enabled(NGRAM_DENSE_MAX_MEMBERSHIPS):
        return None
    spark = idx.sparkSession
    stats = idx.agg(
        F.sum(F.size("ds")).alias("nnz"),
        F.count(F.lit(1)).alias("nsh"),
    ).first()
    if not stats["nnz"]:
        return spark.createDataFrame(
            [], f"a {id_type}, b {id_type}, jaccard double"
        )
    if stats["nnz"] > NGRAM_DENSE_MAX_MEMBERSHIPS:
        return None
    # shingle id assigned BEFORE the explode so every member row of
    # one index row shares it
    member = (
        idx.withColumn("s", F.monotonically_increasing_id())
        .select(F.explode("ds").alias("d"), "s")
        .toPandas()
    )
    doc_codes, doc_ids = pd.factorize(member["d"].to_numpy(), sort=True)
    sh_codes = pd.factorize(member["s"].to_numpy(), sort=False)[0]
    n_docs, n_sh = len(doc_ids), int(stats["nsh"])
    if n_docs * n_sh > NGRAM_DENSE_MAX_CELLS:
        return None
    A = np.zeros((n_docs, n_sh), dtype=np.float32)
    A[doc_codes, sh_codes] = 1.0
    inter = A @ A.T
    sizes = np.diag(inter).copy()
    iu, ju = np.triu_indices(n_docs, 1)
    iv = inter[iu, ju]
    keep = iv > 0
    iu, ju, iv = iu[keep], ju[keep], iv[keep].astype(np.float64)
    union = sizes[iu] + sizes[ju] - iv
    jac = np.floor(iv / union * 10000.0 + 0.5) / 10000.0
    keep = jac >= threshold
    out = pd.DataFrame(
        {
            "a": np.asarray(doc_ids, dtype=np.int64)[iu[keep]],
            "b": np.asarray(doc_ids, dtype=np.int64)[ju[keep]],
            "jaccard": jac[keep],
        }
    )
    return spark.createDataFrame(
        out, f"a {id_type}, b {id_type}, jaccard double"
    )


def _ngram_rep_core(
    docs: DataFrame,
    k: int,
    threshold: float,
    max_doc_freq_frac: float,
    max_doc_freq_abs: int | None,
    text_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared body of the exact shingle-Jaccard family, computed at
    CONTENT-CONTRACTED grain (r10): byte-identical documents are
    grouped on md5(text) and the whole shingle/pair pipeline runs
    over one representative (min id) per distinct content, with each
    shingle's document frequency WEIGHTED by its group size — so the
    df cap drops exactly the shingles the uncontracted pipeline
    drops, intersections/sizes/jaccard are exactly the uncontracted
    values (identical texts have identical shingle sets), and the
    rep-grain pair set expands losslessly back to the member-grain
    set (ngram_jaccard_pairs) or to a connectivity-equivalent edge
    set (ngram_jaccard_pair_graph).

    Why contract: exact duplicates dominate real corpora (and the
    derived scale fixtures: 500k rows -> 94.8k distinct texts at the
    10x fixture), and every copy multiplies shingle df — candidate
    pair instances grow as C(df, 2), i.e. QUADRATICALLY in the copy
    count. Contracting first is the same exact-dedup-before-near-dup
    staging every production pipeline runs; here it is folded inside
    the operator so the declared query semantics are unchanged.
    Grouping is on the 128-bit md5 of the RAW text (fixed-width
    shuffle key; same exactness contract as exact_dedup). Documents
    with NULL text produce no shingles and no pairs in either form;
    they drop out of the contraction mapping by design.

    Returns ``(core, groups, sizes)``: rep-grain pairs
    (a, b, jaccard, _mas, _mbs) with a < b and both member arrays
    already attached (they ride the jaccard size-joins, so expansion
    is pure projection); the persisted per-content groups frame
    (_rep = min member id, _w = copy count, _members = sorted member
    ids); and the persisted rep-grain surviving-shingle sizes
    (a=rep, cnt, _members). Persist lifetime follows the idx contract
    below (harnesses clearCache between queries). The _members array is one
    row per DISTINCT content with length = its copy count — the same
    grain every collect_set in this pipeline already lives at; a
    corpus where one content repeats beyond array limits would need a
    row-form mapping instead (the expansion output is quadratic in
    that count anyway, so such a corpus is pathological for the
    declared pair semantics, not for the contraction).

    ``id_col`` must be an integer column: pairs travel packed as one
    long (see below). Any other type raises ValueError here.
    """
    from pyspark import StorageLevel

    id_type = dict(docs.dtypes)[id_col]
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"ngram pairs need an integer {id_col!r}, got {id_type}"
        )
    spark = docs.sparkSession
    hashed = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("_ch"))
    # ONE aggregation yields rep (= first of the sorted members), copy
    # count, and the member list for expansion — no join back to docs.
    # The shuffle carries (16B hash, 8B id), never text. Persisted:
    # consumed by rep_docs (inside the idx build) and the sizes join.
    # Not unpersisted here even though nothing downstream of the
    # returned frames re-reads it (ADVICE r10): every frame in this
    # function is LAZY, so an unpersist at declaration time would
    # deregister the cache before either consumer materializes and
    # both would replay the hash+groupBy; an eager materialize-then-
    # unpersist would move timed query work into declaration. The
    # cache is per-query-lifetime under the harness clearCache
    # contract; cert paths that declare twice pin 2x the frames for
    # the duration of the cert, which is bounded by the rep grain.
    groups = (
        hashed.groupBy("_ch")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("_members"))
        .select(
            F.element_at("_members", 1).alias("_rep"),
            F.size("_members").cast("bigint").alias("_w"),
            "_members",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # one doc per distinct content, carrying its group weight; the
    # join is on the id column (the rep side is |distinct contents|
    # rows — AQE broadcasts it while small, shuffles both at scale).
    # The docs side is spread before the join: every shingle the
    # explode emits is hashed and joined, heavier than a count.
    rep_docs = (
        fan_out(docs.select(id_col, text_col))
        .join(
            groups.select(F.col("_rep").alias("__rid"), "_w"),
            F.col(id_col) == F.col("__rid"),
        )
        .drop("__rid")
    )
    sh = kmer_explode(
        rep_docs, k=k, text_col=text_col, keep_cols=[id_col, "_w"]
    ).select(id_col, "_w", F.col("word").alias("shingle"))
    # df cap as a lazy broadcast scalar (one 1-row aggregate inside the
    # same DAG — no eager driver-side count at plan-construction time),
    # clamped to >= 1 so corpora under 1/max_doc_freq_frac docs don't
    # silently drop every shingle and return an empty pair set
    # r7: the FRACTIONAL cap alone is a scale bug — 0.02·N grows with
    # the corpus, so per-shingle pair fan-out (≤ df_cap²/2) is still
    # quadratic in N. The ABSOLUTE component bounds it at any scale:
    # at the derived sf1 the DuckDB oracle replay dropped 302s → 128s
    # with the IDENTICAL pair set (hot shingles past 500 docs carry no
    # ≥0.6 pairs), and the gate fixtures are unaffected (frac caps 10
    # and 100). Pass None to disable (the recall-certificate TRUTH
    # must stay uncapped — a cap reshapes the Jaccard space; its
    # boundedness comes from the absolute sampled-doc budget instead).
    frac_cap = F.floor(F.col("_n") * F.lit(max_doc_freq_frac))
    if max_doc_freq_abs is not None:
        frac_cap = F.least(frac_cap, F.lit(max_doc_freq_abs))
    df_cap = F.greatest(F.lit(1), frac_cap)
    # the id-domain stats of the PACKED pair keys below ride the same
    # single-row aggregate as the df cap
    n_docs = docs.agg(
        F.countDistinct(F.col(id_col)).alias("_n"),
        F.min(F.col(id_col)).alias("_mn"),
        F.max(F.col(id_col)).alias("_mx"),
    )
    idx = (
        sh.groupBy("shingle")
        # collect_set IS the per-shingle rep dedup — feeding it raw
        # shingle instances avoids a whole extra distinct shuffle.
        # (rep, w) structs: w is constant per rep, so the set is the
        # distinct reps; sort_array orders by the struct's first
        # field (the unique rep id), so the transform below yields
        # the sorted rep array the pair explode requires.
        .agg(
            F.sort_array(
                F.collect_set(F.struct(F.col(id_col).alias("i"), F.col("_w").alias("w")))
            ).alias("dw")
        )
        .crossJoin(F.broadcast(n_docs))
        # WEIGHTED df: sum of group sizes over the reps containing
        # the shingle == the uncontracted pipeline's distinct-doc
        # count for it, so the cap keeps/drops exactly the same
        # shingles the oracle's uncontracted replay keeps/drops
        .where(
            F.expr("aggregate(dw, CAST(0 AS BIGINT), (acc, x) -> acc + x.w)")
            <= df_cap
        )
        .withColumn("ds", F.expr("transform(dw, x -> x.i)"))
    )
    # refuse loudly (per surviving index row — a few-k predicate
    # evaluations) rather than silently corrupt packed keys on an
    # out-of-domain corpus
    idx = idx.where(
        F.when(
            (F.col("_mn") < 0) | (F.col("_mx") >= F.lit(1 << 31)),
            F.expr(
                "raise_error('ngram pair packing requires"
                " doc ids in [0, 2^31)')"
            ).cast("boolean"),
        ).otherwise(F.lit(True))
    )
    # the index frame feeds TWO consumers (pair generation + sizes);
    # it is the SMALLEST frame in the pipeline (distinct capped
    # shingles x bounded rep arrays), so it carries the explicit
    # persist — the r9 shape persisted the 130M-row post-count pair
    # frame instead and fused size markers into the pair explode,
    # which shuffled two-column structs for every candidate instance
    # (219s of the sf10 wall lived in that explode+agg). Lifetime:
    # outlives the returned lazy frame by design; harnesses
    # clearCache() between queries (see minhash_lsh_pairs note).
    idx = idx.select("ds").persist(StorageLevel.MEMORY_AND_DISK)
    # rep-grain sizes (count of surviving index rows containing the
    # rep — identical to any member's uncontracted size) from their
    # own tiny explode over the persisted index, JOINED with the
    # member arrays once here so the expansion downstream needs ZERO
    # extra joins per run (the jaccard joins below already deliver
    # the arrays alongside na/nb, and the intra/star explodes read
    # this frame directly — its rows ARE the surviving reps, so no
    # separate surviving-gate semi-join either). Persisted: consumed
    # by both jaccard join sides and the intra/star branch. No
    # broadcast hint: AQE picks broadcast when it measures small.
    sizes = (
        idx.select(F.explode("ds").alias("a"))
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(groups.select(F.col("_rep").alias("a"), "_members"), "a")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # uncapped = a bounded truth replay by construction: give it the
    # dense-gemm tier (its hot uncapped shingles otherwise emit
    # C(df, 2) pair instances each); the probe's index materialization
    # is shared work — a fall-through leaves the persist warm for the
    # distributed explode below
    if max_doc_freq_abs is None and max_doc_freq_frac >= 1.0:
        dense = _ngram_pairs_dense(idx, threshold, id_type)
        if dense is not None:
            # attach the member arrays the expansion expects (the
            # dense frame is a driver-local k-row result — two
            # broadcast joins of nothing)
            core = dense.join(
                sizes.select("a", F.col("_members").alias("_mas")), "a"
            ).join(
                sizes.select(
                    F.col("a").alias("b"), F.col("_members").alias("_mbs")
                ),
                "b",
            )
            return core, groups, sizes
    # PACKED: every (ds[i], ds[j]) i<j pair as ONE long — primitive
    # arrays through the explode (no per-pair struct allocation),
    # 8-byte keys through the count exchange, ids unpack exactly
    # (both components < 2^31, nonnegative — guarded above).
    # Aggregation strategy follows the df cap. CAPPED (corpus-scale
    # candidate generation): pairs are NEAR-UNIQUE (sf10: 315M
    # instances -> 130M distinct, avg multiplicity 2.4), so a map-side
    # partial aggregate builds partition-sized hash maps that spill
    # for almost no volume reduction — measured 207s for that one agg
    # at sf10; exchanging the raw keys and aggregating once
    # co-partitioned runs the identical reduction in 25s (same
    # exchange count — the repartition replaces the groupBy's own
    # shuffle). UNCAPPED (the bounded truth replays): duplicate
    # clusters are dense, a hot pair repeats once per shared shingle
    # (multiplicity in the hundreds), and the map-side combine IS the
    # volume reduction — forcing the raw exchange there measured
    # 1 -> 16-40s at sf0.1. Both shapes produce identical counts.
    capped = max_doc_freq_abs is not None or max_doc_freq_frac < 1.0
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    rows = idx.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) ->"
                " transform(slice(ds, i + 2, size(ds)),"
                " y -> x * CAST(2147483648 AS BIGINT) + y)))"
            )
        ).alias("pk")
    )
    if capped:
        rows = rows.repartition(n_part, "pk")
    inter = (
        rows.groupBy("pk")
        .agg(F.count(F.lit(1)).alias("inter"))
        .select(
            F.expr("pk DIV 2147483648").cast(id_type).alias("a"),
            F.expr("pk % 2147483648").cast(id_type).alias("b"),
            "inter",
        )
    )
    sz_a = sizes.select(
        F.col("a"), F.col("cnt").alias("na"), F.col("_members").alias("_mas")
    )
    sz_b = sizes.select(
        F.col("a").alias("b"),
        F.col("cnt").alias("nb"),
        F.col("_members").alias("_mbs"),
    )
    # NOT persisted past here: the returned frame is the query's real
    # work, and single-consumer callers (the pair query, cluster
    # assembly's one canonical distinct) re-reading a cached output
    # would turn their timed runs into cache reads. Multi-consumer
    # callers own their share: _pair_recall_cert persists the truth
    # and candidate sides it consumes twice.
    core = (
        inter.join(sz_a, "a")
        .join(sz_b, "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4
            ).alias("jaccard"),
            "_mas",
            "_mbs",
        )
        .where(F.col("jaccard") >= threshold)
    )
    return core, groups, sizes


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 6,
    threshold: float = 0.6,
    max_doc_freq_frac: float = 0.02,
    max_doc_freq_abs: int | None = 500,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact shingle-Jaccard pairs (a, b, jaccard) with a < b via a
    compact inverted index over CONTENT-CONTRACTED documents
    (_ngram_rep_core): one explode feeds one aggregation building
    ``shingle -> sorted reps``, stop-shingles are dropped by a
    WEIGHTED df cap (``max_doc_freq_frac`` x n_docs, min'd with
    ``max_doc_freq_abs``), candidate pairs explode per index row
    from the sorted rep array, and one count aggregation yields
    intersections. The rep-grain pair set then expands losslessly:

    - cross-content: every (member of a's group) x (member of b's
      group) pair carries the rep pair's jaccard — identical texts
      have identical shingle sets, so the uncontracted pipeline
      computes exactly this value for every such pair;
    - within-content: all C(w, 2) member pairs of a duplicate group
      whose content kept >= 1 surviving shingle get jaccard 1.0 —
      exactly the pairs the uncontracted pipeline emits for them
      (identical sets, intersection == union); a group whose every
      shingle was cap-dropped shares no surviving shingle, so it
      emits nothing in either form.

    This is the exact-verify stage run after LSH at scale; here it
    is also a standalone DuckDB-oracleable query (the oracle replays
    the UNCONTRACTED formulation — outputs are bit-identical).
    ``id_col`` must be an integer column in [0, 2^31); any other type
    raises ValueError at declaration.
    """
    core, _groups, sizes = _ngram_rep_core(
        docs, k, threshold, max_doc_freq_frac, max_doc_freq_abs, text_col, id_col
    )
    # cross-content: one explode over the member-array product per rep
    # pair — the arrays arrived with the jaccard joins inside core, so
    # this is pure projection, no extra join or exchange
    cross = core.select(
        F.explode(
            F.expr(
                "flatten(transform(_mas, x -> transform(_mbs,"
                " y -> struct(least(x, y) AS a, greatest(x, y) AS b))))"
            )
        ).alias("p"),
        "jaccard",
    ).select("p.a", "p.b", "jaccard")
    # within-content: C(w, 2) pairs per surviving duplicate group via
    # the same sorted-slice trick as the packed pair explode (members
    # are sorted, so x < y positionally — no filter). sizes rows ARE
    # the surviving reps, so no gate join either.
    intra = (
        sizes.where(F.size("_members") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(_members, (x, i) ->"
                    " transform(slice(_members, i + 2, size(_members)),"
                    " y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(intra)


def ngram_jaccard_pair_graph(
    docs: DataFrame,
    k: int = 6,
    threshold: float = 0.6,
    max_doc_freq_frac: float = 0.02,
    max_doc_freq_abs: int | None = 500,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Connectivity-equivalent edge set (a, b) for clustering
    consumers: rep-rep near-dup edges plus rep->member star edges for
    duplicate groups whose content kept >= 1 surviving shingle.
    connected_components over this graph yields EXACTLY the labels of
    connected_components over the full ngram_jaccard_pairs output —
    every member connects to its rep (jaccard-1.0 pairs in the full
    set), every cross-content pair is represented by its rep edge,
    and the rep is its group's min id so component minima are
    unchanged — while the edge count scales with DISTINCT contents,
    not with copies (C(w, 2) identical-pair cliques collapse to w-1
    stars). This is the contract-then-cluster staging a 100 TB dedup
    actually runs."""
    core, _groups, sizes = _ngram_rep_core(
        docs, k, threshold, max_doc_freq_frac, max_doc_freq_abs, text_col, id_col
    )
    stars = sizes.where(F.size("_members") >= 2).select(
        F.col("a"),
        # members are sorted with the rep first: slice off element 1
        F.explode(F.expr("slice(_members, 2, size(_members))")).alias("b"),
    )
    return core.select("a", "b").unionByName(stars)


# Edge-count ceiling for the driver-local union-find fast path: 500k
# canonical edges is a few MB of longs — the same driver-side budget
# class as similarity.COLLECT_MATRIX_MAX_ROWS. Above it (the real
# at-scale regime) the distributed star-contraction loop runs instead.
CC_LOCAL_MAX_EDGES = 500_000


def _cc_local_pdf(pdf, spark) -> DataFrame:
    """Union-find with min-label roots over a driver-resident edge
    frame (columns hi, lo) — the bounded small-graph fast path body,
    semantically identical to the star-contraction fixpoint (both
    label every vertex with its component minimum). This mirrors what
    every single-node engine does and what a cluster job does after
    LSH contraction has shrunk the duplicate graph by orders of
    magnitude; it is NOT a replacement for the distributed path, which
    stays property-tested and kicks in past the ceiling."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for hi, lo in zip(pdf["hi"].to_numpy(), pdf["lo"].to_numpy()):
        hi, lo = int(hi), int(lo)
        for v in (hi, lo):
            if v not in parent:
                parent[v] = v
        ra, rb = find(hi), find(lo)
        if ra != rb:
            # union by MIN id so every root is its component minimum
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    out = [(v, find(v)) for v in parent]
    return spark.createDataFrame(out, "id long, cluster_id long")


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iters: int = 25,
    n_edges_bound: int | None = None,
) -> DataFrame:
    """Duplicate-cluster assembly: near-dup PAIRS -> connected
    components, labeling every document with the minimum doc id of its
    component (DataFrame[id, cluster_id]). This is the stage a real
    curation pipeline runs after LSH + verify — keep min(cluster), drop
    the rest — and the reason pair output alone isn't a dedup.

    Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): each round
    rewires every vertex's strictly-larger neighbors to its
    neighborhood minimum (large-star), then points every vertex and
    its smaller neighbors at the minimum of the smaller neighborhood
    (small-star). Connectivity is preserved by both operations and the
    edge set converges to a star forest — every vertex pointing
    directly at its component minimum — in **O(log n) rounds even on
    adversarial deep chains** (a 10k-edge path converges in ~log2 n
    rounds; pinned by tests/test_properties.py), vs the
    diameter-bound rounds of plain min-label propagation. LSH
    duplicate clusters are near-cliques (diameter ~2) and finish in
    1-2 rounds.

    Scale notes: state is the contracted edge list — one row per
    (vertex, current parent) over vertices *that appear in a pair*
    (duplicates only, a small fraction of the corpus). Each round's
    edge set is LINEAGE-TRUNCATED (localCheckpoint), not merely
    persisted: round N's plan references round N-1's twice, so
    without truncation the logical plan doubles per round and
    analysis time alone goes exponential (measured on the min-label
    predecessor: 23s at sf0.1 with persist, ~3s with checkpointing).
    localCheckpoint trades executor-loss recomputability for speed,
    the standard call for short-lived iterative state; a long-running
    cluster job would point ``sparkContext.setCheckpointDir`` at
    durable storage and use ``checkpoint()``. The convergence probe
    is a limit(1) anti-join — it stops at the first changed edge.

    Raises ``RuntimeError`` if ``max_iters`` rounds pass without
    convergence rather than silently returning partial (wrong)
    labels; with O(log n) convergence the default 25 covers any graph
    to ~2^25 vertices, so tripping this means a bug, not a big input.

    ``n_edges_bound``: optional zero-cost UPPER bound on the canonical
    edge count (e.g. the footer row count of a pair-graph layout —
    canonicalization and distinct only shrink it). When the bound
    already exceeds the local-tier cap, the probe is skipped: its
    limit(cap+1).toPandas() would execute the full edge pipeline once
    only for the distributed loop's localCheckpoint to pay it again
    (r15; the double-pay grows with exactly the graphs that overflow
    the cap). A bound at or under the cap keeps the probe, which then
    provably answers. Purely a physical-tier choice — tier equality
    is pinned by tests/test_budget_tiers.py.
    """
    labels, _ = _connected_components_star(
        pairs, a_col, b_col, max_iters, n_edges_bound=n_edges_bound
    )
    return labels


def _connected_components_star(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iters: int = 25,
    n_edges_bound: int | None = None,
) -> tuple[DataFrame, int]:
    """connected_components body; also returns the round count so the
    O(log n) bound is testable (0 when the bounded local fast path
    answered — ``SMRGH_FORCE_DISTRIBUTED`` forces the distributed
    loop)."""
    from ..plans.budget import local_tier_enabled

    # canonical undirected edge set: (hi, lo) with hi > lo
    edges_decl = (
        pairs.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("hi"),
            F.least(F.col(a_col), F.col(b_col)).alias("lo"),
        )
        .where(F.col("hi") != F.col("lo"))
        .distinct()
    )
    if local_tier_enabled(CC_LOCAL_MAX_EDGES) and not (
        # a caller-supplied bound already over the cap proves the
        # probe would overflow — skip its full pipeline execution
        # (see connected_components docstring, r15)
        n_edges_bound is not None
        and n_edges_bound > CC_LOCAL_MAX_EDGES
    ):
        # single-pass bounded probe: limit(ceiling + 1).toPandas()
        # executes the pair pipeline ONCE with no checkpoint write —
        # <= ceiling rows back means the transfer IS the complete edge
        # set (transfer stays bounded at ceiling + 1 rows regardless of
        # graph size). The r11 shape paid checkpoint (pipeline + write)
        # + count + a separate toPandas read for the same answer
        # (dedup_clusters 1.94 -> ~1.3 s at sf0.1). Trade-off: an
        # over-ceiling graph whose TRUE edge count the caller cannot
        # bound re-executes the pipeline into the checkpoint below —
        # acceptable because past the ceiling the iterative loop
        # dominates and the probe cost is one of its many passes; the
        # forced-distributed switch skips the probe entirely, and
        # layout-backed callers pass n_edges_bound so the known-big
        # case never probes.
        pdf = edges_decl.limit(CC_LOCAL_MAX_EDGES + 1).toPandas()
        if len(pdf) <= CC_LOCAL_MAX_EDGES:
            return _cc_local_pdf(pdf, pairs.sparkSession), 0
    # each round's plan references the previous round's edges twice —
    # truncate lineage once here (see docstring)
    edges = edges_decl.localCheckpoint()
    # vertices is consumed ONCE (the final labeling join) and reads the
    # already-checkpointed edges — lazy is fine; checkpointing it here
    # would pay an extra materialization job per invocation
    vertices = (
        edges.select(F.col("hi").alias("id"))
        .union(edges.select(F.col("lo").alias("id")))
        .distinct()
    )
    rounds = 0
    converged = edges.isEmpty()
    for _ in range(max_iters):
        if converged:
            break
        rounds += 1
        # large-star: per vertex u, attach every strictly-larger
        # neighbor v to m = min(N(u) + {u})
        both = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = both.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        # NOT checkpointed: ls has two consumers inside the ss plan
        # (smins + the join), so skipping its materialization recomputes
        # the large-star pass twice within one round — measured ~15%
        # faster per round at sf0.1 (one materialize+write+read saved
        # beats one recompute), and at scale it is the classic two-pass
        # MapReduce round either way. Lineage stays bounded: ls reads
        # the checkpointed edges, and ss below is checkpointed.
        ls = (
            both.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .where(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # small-star: per vertex u (edges already point hi -> smaller
        # lo), attach u and all its smaller neighbors to their min
        smins = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        ss = (
            ls.join(smins, "hi")
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .union(smins.select(F.col("hi"), F.col("m").alias("lo")))
            .where(F.col("hi") != F.col("lo"))
            .distinct()
            .localCheckpoint()
        )
        # fixpoint probe: both sides are DISTINCT sets, so ss == edges
        # iff |ss| == |edges| and ss \ edges is empty. Counts over the
        # just-checkpointed RDDs are one cheap job each; the anti-join
        # runs only when the counts tie (typically just the final
        # round) — one probe job per round instead of two.
        changed = ss.count() != edges.count() or (
            ss.join(edges, ["hi", "lo"], "left_anti").limit(1).isEmpty() is False
        )
        edges = ss
        converged = not changed
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds; "
            "refusing to return partial labels"
        )
    # star forest: every non-root points at its component min
    mapping = edges.groupBy("hi").agg(F.min("lo").alias("root"))
    return (
        vertices.join(mapping, vertices["id"] == mapping["hi"], "left").select(
            "id", F.coalesce("root", "id").alias("cluster_id")
        ),
        rounds,
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: (a, b, sim) with
    a < b and cosine >= threshold.

    The corpus streams once through an Arrow-batched numpy matmul
    against the corpus matrix held in the closure (the verify-stage
    analog of similarity.brute_force_topk). That makes compute
    O(n^2 d) but with a single scan, no join, no shuffle of vector
    data — only the surviving (a, b, sim) triples move. The closure
    matrix bounds this exact form to corpora whose vectors fit on one
    executor (n x d x 8 bytes); beyond that, run
    embedding_lsh_pairs and feed its candidate pairs to the same
    scorer.
    """
    from .similarity import _collect_matrix, _score_stream

    ids, unit = _collect_matrix(corpus, id_col, vec_col)
    scored = _score_stream(corpus, id_col, vec_col, ids, unit)
    return (
        scored.where(
            (F.col("ref_id") < F.col(id_col)) & (F.col("sim") >= threshold)
        )
        .select(
            F.col("ref_id").alias("a"), F.col(id_col).alias("b"), "sim"
        )
    )


def embedding_lsh_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 64,
    bands: int = 16,
    max_bucket: int = 500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for embedding near-dup: random-hyperplane LSH.

    Sign bits of ``n_planes`` random ±1 projections form a
    bit-signature; band buckets (``n_planes/bands`` bits each) gate an
    exact cosine verify, so only same-bucket pairs are ever scored —
    compute is bucket-bounded, never all-pairs. For two vectors at
    angle theta, P[bit agrees] = 1 - theta/pi; near-dup pairs (cosine
    >= 0.9) share a band with ~94% probability at the 64-plane /
    8-band setting and ~99.98% at 16 bands, while near-orthogonal
    pairs almost never do (8-band candidate rate ~3%). Recall is
    asserted against the exact operator in tests.

    The plane matrix is tiny (n_planes x d) and lives in the
    projection kernel's closure; the verify joins vectors back per
    candidate pair and scores them in an Arrow-batched numpy kernel
    (the JVM higher-order cosine is ~ms per pair — a non-starter for
    candidate sets), so vector payloads move only for candidates.

    The planes are the md5-derived ±1 Rademacher matrix
    (functions/porthash.rademacher_matrix), and the projection runs on
    *integer-quantized* vectors (floor(x * 1e6) — every product and
    partial sum stays an integer below 2^53, so the float64 arithmetic
    is EXACT and order-independent), which lets a DuckDB oracle
    rebuild every sign bit identically. Recall at threshold 0.4 on the
    fixture embeddings: 0.924 (sf0.001), 0.949 (sf0.01), 0.958
    (sf0.1), no false positives."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    from ..functions.porthash import rademacher_matrix

    if n_planes % bands:
        raise ValueError("n_planes must be divisible by bands")
    r = n_planes // bands
    planes_by_dim: dict[int, np.ndarray] = {}

    def _planes(d: int) -> np.ndarray:
        if d not in planes_by_dim:
            planes_by_dim[d] = np.array(
                rademacher_matrix(n_planes, d), dtype=np.float64
            )
        return planes_by_dim[d]

    # The projection CARRIES the vector through (one extra Arrow
    # round-trip of the corpus) so the verify below can score INSIDE
    # each bucket without ever joining vectors onto the candidate-pair
    # stream: vectors move once per band membership (``bands`` x corpus
    # volume — linear in n), instead of twice per candidate pair
    # (quadratic in bucket occupancy; measured ~700x the corpus volume
    # at the derived sf1, where 8-bit band buckets hold ~n/256 members
    # and yield ~7M candidate pairs from 20k vectors).
    out_schema = f"{id_col} long, bits long, {vec_col} array<float>"

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            v = np.floor(v * 1_000_000.0)
            bits = (v @ _planes(v.shape[1]).T) >= 0  # (batch, n_planes)
            packed = np.zeros(len(v), dtype=np.int64)
            for i in range(n_planes):
                packed |= bits[:, i].astype(np.int64) << i
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "bits": packed,
                    vec_col: pdf[vec_col],
                }
            )

    sigs = corpus.select(id_col, vec_col).mapInPandas(project, schema=out_schema)
    band_mask = (1 << r) - 1
    banded = sigs.select(
        id_col,
        vec_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}),"
                f" b -> shiftrightunsigned(bits, b * {r}) & {band_mask})"
            )
        ).alias("band_idx", "band_bits"),
    )
    buckets = banded.groupBy("band_idx", "band_bits").agg(
        F.collect_list(F.struct(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))).alias(
            "members"
        )
    )
    # In-bucket verify: one numpy gemm per bucket scores every i<j
    # pair (the cap bounds the m² block at max_bucket²). The kernel
    # PRE-FILTERS python-side with a loose threshold margin (1e-6 —
    # far wider than the worst 6-dp rounding bump of 5e-7), so only
    # near-output rows cross Arrow back to the JVM; the exact HALF_UP
    # round + threshold + cross-band dedup run Spark-side on the
    # survivor set (np.round is half-to-even and cannot produce the
    # hash-bearing value). The repartition spreads bucket rows first:
    # AQE coalesces the few-KB bucket frame to 1-2 partitions, which
    # would run every m² expansion in as many tasks (the
    # graph_triangles wedge lesson).
    kept = (
        buckets.where((F.size("members") >= 2) & (F.size("members") <= max_bucket))
        .select("members")
        .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    )
    loose = threshold - 1e-6

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for members in pdf["members"]:
                ids = np.array([m["i"] for m in members], dtype=np.int64)
                V = np.array([m["v"] for m in members], dtype=np.float64)
                order = np.argsort(ids)
                ids, V = ids[order], V[order]
                n = np.linalg.norm(V, axis=1)
                n[n == 0] = 1.0
                U = V / n[:, None]
                sims = U @ U.T
                iu, ju = np.triu_indices(len(ids), k=1)
                m = sims[iu, ju] >= loose
                if not m.any():
                    continue
                yield pd.DataFrame(
                    {
                        "a": ids[iu[m]],
                        "b": ids[ju[m]],
                        "sim_raw": sims[iu[m], ju[m]],
                    }
                )

    scored = kept.mapInPandas(score, schema="a long, b long, sim_raw double")
    return (
        scored.select("a", "b", F.round("sim_raw", 6).alias("sim"))
        .where(F.col("sim") >= threshold)
        .dropDuplicates(["a", "b"])
    )


def editdistance_verify_pairs(
    docs: DataFrame,
    max_dist: int = 60,
    band_width: int = 4,
    max_block: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Edit-distance verify tier behind PORTABLE length-band blocking:
    docs are bucketed on (lang, length DIV band_width), candidate
    pairs are generated group-locally inside each bucket (sorted-array
    i<j expansion, the basket_pairs rewrite — no self-join), and each
    pair is scored with JVM ``levenshtein`` (character-exact; both
    engines define it on codepoints for BMP text). Near-identical
    texts land in the same or adjacent band; like every blocked
    dedup tier the recall/ cost trade is explicit: O(groups x
    max_block^2) pairs, never all-pairs, and a ``max_block`` cap
    bounds any boilerplate-length hot bucket.

    The blocking key is pure arithmetic on (lang, char_length), so a
    SQL oracle reproduces the candidate set EXACTLY — unlike the
    xxhash64 minhash/simhash tiers whose pair sets are hash-family-
    specific — making this the gate-friendly verify-tier twin.
    Returns (a, b, dist) for pairs with dist <= max_dist."""
    keyed = docs.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_txt"),
        F.col(lang_col).alias("_lang"),
        (F.length(text_col).cast("bigint") / band_width)
        .cast("bigint")
        .alias("_band"),
    )
    blocks = (
        keyed.groupBy("_lang", "_band")
        .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
        .where(F.size("ids").between(2, max_block))
    )
    pairs = blocks.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) ->"
                " transform(slice(ids, i + 2, size(ids)),"
                " y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    ta = docs.select(F.col(id_col).alias("a"), F.col(text_col).alias("_ta"))
    tb = docs.select(F.col(id_col).alias("b"), F.col(text_col).alias("_tb"))
    # BOUNDED levenshtein (r14, guide §1.2 "per-task work"): the
    # threshold form runs the banded DP — O(max_dist * len) cells with
    # early abort once every band cell exceeds the bound — instead of
    # the full O(len_a * len_b) matrix, and returns -1 above the
    # bound. Output-identical to the unbounded form + `<= max_dist`:
    # kept pairs carry the exact distance either way (oracle-gated).
    # Measured at sf0.1 (297-char avg docs, 25.3k candidate pairs):
    # the verify stage's full-DP ~2.2G cells drop ~5x.
    return (
        pairs.join(ta, "a")
        .join(tb, "b")
        .select(
            "a",
            "b",
            F.levenshtein("_ta", "_tb", max_dist).cast("int").alias("dist"),
        )
        .where(F.col("dist") >= 0)
    )
