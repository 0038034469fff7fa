"""LLM-data-pipeline queries: deduplication, similarity search, text
analysis over the ``documents`` / ``embeddings`` tables.

Oracle-able everywhere: DuckDB expresses the exact semantics directly
— via the portable md5 hash family (functions/porthash.py) for MinHash
(dedup_minhash_portable), SimHash fingerprints (text_simhash), and
winnowing (text_fingerprint) — and the xxhash64 production variants
(dedup_minhash_pairs, dedup_simhash_pairs) plus the IVF ANN
(similarity_ivf_topk) carry bounded-error CERTIFICATES: the query
emits an exactly-recomputable truth statistic alongside 0/1 flags
asserting the approximation's recall contract, so the driver value
hash covers the contract itself (see _pair_recall_cert). Tighter
error bounds stay pytest-asserted (tests/test_dedup.py,
tests/test_similarity.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    alpha_ratio,
    bpe_ish_token_count,
    lang_id,
    quality_score,
    repetition_profile,
    stopword_ratio,
    whitespace_token_count,
    winnowing_fingerprints,
)
from ..operators.decontam import contamination_hits
from ..operators.similarity import (
    brute_force_topk,
    ivf_topk,
    queries_from_corpus,
)
from ..operators.dedup import (
    connected_components,
    embedding_lsh_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pair_graph,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from ..sources.tables import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_docs(spark, sf_dir), k=6, threshold=0.6)


def _truth_sample(d: DataFrame) -> DataFrame:
    """The deterministic bounded truth-doc sample (see
    _TRUTH_SAMPLE_BUDGET above): doc_id % mod == 0 with the modulus a
    lazy broadcast scalar — one 1-row aggregate inside the DAG, zero
    driver-side actions at declaration time, same formula the oracle's
    scalar subquery computes."""
    n = d.agg(F.count(F.lit(1)).alias("_n"))
    mod = F.greatest(
        F.lit(2).cast("bigint"),
        F.ceil(F.col("_n") / F.lit(_TRUTH_SAMPLE_BUDGET)).cast("bigint"),
    )
    return d.crossJoin(F.broadcast(n)).where(F.col("doc_id") % mod == 0).drop("_n")


# Version stamp for the write-once truth-pair layout — folded into the
# layout key with the (k, threshold, sample-budget) parameters.
_TRUTH_PAIRS_LAYOUT_V = 1


def _truth_pairs_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall certificates' exact ground-truth pair set
    (raw shingle-Jaccard >= 0.9 over the deterministic bounded doc
    sample), materialized once per fixture fingerprint — the
    _ngram_pair_graph precedent. The truth set is a property of the
    FIXTURE, not of the approximate finder under test: before this
    layout, every declaration of dedup_minhash_pairs AND
    dedup_simhash_pairs re-derived it (the budget-gated dense-gemm
    tier runs driver-side at declaration — ~3.3s per declaration at
    sf0.1, the single largest cost in both bench lines, and the jobs
    it launches kept the declarations out of the prepared-plan
    cache). DuckDB's oracle still recomputes the same truth
    independently, so the certificate's cross-engine teeth are
    unchanged."""
    from ..sources.tables import derived_layout, read_layout

    build = lambda: ngram_jaccard_pairs(  # noqa: E731
        _truth_sample(_docs(spark, sf_dir)),
        k=6,
        threshold=0.9,
        max_doc_freq_frac=1.0,
        max_doc_freq_abs=None,
    ).select("a", "b")
    path = derived_layout(
        sf_dir,
        "truthpairs",
        ("documents",),
        f"k=6;t=0.9;budget={_TRUTH_SAMPLE_BUDGET};v={_TRUTH_PAIRS_LAYOUT_V}",
        lambda tmp: build().write.mode("overwrite").parquet(tmp),
    )
    return read_layout(spark, path)


def _pair_recall_cert(
    candidates: DataFrame, truth: DataFrame, recall_floor_e2: int
) -> DataFrame:
    """Bounded-error certificate for an approximate pair finder: one
    row (n_truth, recall_ok) where recall_ok = 1 iff the candidate set
    covers >= recall_floor_e2% of the ground-truth pair set. The truth
    count hashes exactly (both engines compute it); the recall flag
    carries the approximation contract — raw candidate sets are
    engine-hash-specific and can't hash, but their coverage of an
    exactly-defined truth set can. Integer arithmetic only (n_found *
    100 >= floor * n_truth), no float boundary.

    Join direction (r15, guide §3.1): the truth set is BOUNDED BY
    CONSTRUCTION (_TRUTH_SAMPLE_BUDGET docs' near-dup pairs; with the
    layout it is a tiny parquet scan), while the candidate stream is
    unbounded (grows with the corpus) — so the candidates
    broadcast-SEMI-join against truth and are never exchanged or
    sorted, and n_truth rides a second scan of the bounded frame.
    The r13 shape (truth LEFT JOIN candidates, one truth pass) dates
    from when truth was an expensive lazy pipeline; after the r14
    truth-pair layout that inversion paid an Exchange + sort of the
    FULL candidate set against a <=budget-bounded build side — at
    100 TB the heaviest shuffle of the whole certificate. (History:
    the original two-branch form evaluated the expensive truth
    lineage twice, the r13 single-pass fixed that — 9.8s -> ~4s at
    sf0.1 — and the r14 layout then made truth re-scans ~free, which
    is what makes the broadcast direction strictly better now.)

    CONTRACT (r14): ``candidates`` must already be DISTINCT on
    (a, b) — a duplicate pair would multiply its truth row through
    the left join and corrupt both counts. Every caller ends its
    pipeline in dropDuplicates/where-on-deduped-pairs (minhash: pairs
    dedup before signature scoring; simhash: dedup after the hamming
    filter), so the defensive dropDuplicates this function used to
    run was a provably redundant exchange + aggregate on every
    certificate query — removed (guide §2.4: a distinct on data that
    is already unique). The contract is pinned for both production
    callers by tests/test_dedup.py::
    test_recall_cert_callers_emit_distinct_pairs — EXTEND THAT TEST
    when adding a caller."""
    # both sides distinct on (a, b), so |candidates SEMI truth| ==
    # |truth ∩ candidates| == the old left-join's count(_hit)
    total = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    found = candidates.join(F.broadcast(truth), ["a", "b"], "left_semi").agg(
        F.count(F.lit(1)).alias("_n_found")
    )
    return total.crossJoin(found).select(
        "n_truth",
        (F.col("_n_found") * 100 >= F.lit(recall_floor_e2) * F.col("n_truth"))
        .cast("int")
        .alias("recall_ok"),
    )


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash MinHash LSH on the VALUE gate via a recall
    certificate: candidates come from the xxhash64 banded-LSH path
    (the engine's scale configuration — signatures and buckets are
    hash-family-specific, so the pair set itself can't be oracled),
    and are scored against the EXACT ground truth "raw shingle-Jaccard
    >= 0.9" (no doc-frequency cap — the same space the signatures
    estimate) over the deterministic bounded doc sample (_truth_sample),
    which DuckDB recomputes independently. Emits (n_truth, recall_ok
    >= 90%); measured recall over the sampled truth is 100% at
    sf0.001/0.01/0.1 (est-threshold 0.7 vs truth 0.9 at 64 hashes).
    The portable twin dedup_minhash_portable keeps the bit-exact
    signature oracle."""
    d = _docs(spark, sf_dir)
    cand = minhash_lsh_pairs(
        d, k=6, num_hashes=64, bands=16, threshold=0.7
    ).select("a", "b")
    truth = _truth_pairs_layout(spark, sf_dir)
    return _pair_recall_cert(cand, truth, recall_floor_e2=90)


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash SimHash near-pairs on the VALUE gate via the
    same recall certificate as dedup_minhash_pairs: hamming<=3
    candidate pairs from the 64-bit xxhash64 fingerprints, scored
    against the exact raw shingle-Jaccard >= 0.9 truth set over the
    deterministic bounded doc sample (_truth_sample). SimHash at tight
    hamming radii trades recall for precision on frequency-weighted
    features, so the floor is 40% (measured over the sampled truth:
    8/12 at sf0.001, 3/6 at sf0.01, 53/66 at sf0.1 — deterministic:
    the whole pipeline is integer hashing, no randomness); the
    fingerprint surface itself is oracled bit-exactly by
    text_simhash's portable twin."""
    d = _docs(spark, sf_dir)
    cand = simhash_near_pairs(d, max_hamming=3).select("a", "b")
    truth = _truth_pairs_layout(spark, sf_dir)
    return _pair_recall_cert(cand, truth, recall_floor_e2=40)


# Version stamp for the write-once ngram pair-graph layout — folded
# into the layout key with the (k, threshold, df-cap) parameters so a
# derivation change can never serve stale edges under a
# correct-looking fixture fingerprint (the r11 edge-layout lesson).
_NGRAM_GRAPH_LAYOUT_V = 1


def _ngram_pair_graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """The contracted ngram-Jaccard pair graph for clustering
    consumers (dedup_clusters, corpus_curate — both consume the SAME
    (k=6, threshold=0.6) graph), materialized once per fixture
    fingerprint as a write-once parquet layout — the
    _tradegraph_edge_layout precedent (queries/relational.py): pair
    derivation is ingest-time work in a real curation pipeline, so
    repeat runs scan the ~|E|-row relation instead of re-paying the
    shingle index + candidate join + Jaccard verify.

    Also returns the layout's footer row count — a zero-job UPPER
    BOUND on the canonical edge count that lets connected_components
    skip its local-tier probe when the graph provably exceeds the cap
    (r15: the probe's limit(cap+1).toPandas() executed the full edge
    pipeline once, then the distributed loop's localCheckpoint paid it
    AGAIN — one wasted full pass exactly on the graphs where the
    pipeline is most expensive)."""
    from ..sources.tables import derived_layout, parquet_rows, read_layout

    build = lambda: ngram_jaccard_pair_graph(  # noqa: E731
        _docs(spark, sf_dir), k=6, threshold=0.6
    )
    path = derived_layout(
        sf_dir,
        "ngramgraph",
        ("documents",),
        f"k=6;t=0.6;v={_NGRAM_GRAPH_LAYOUT_V}",
        lambda tmp: build().write.mode("overwrite").parquet(tmp),
    )
    return read_layout(spark, path), parquet_rows(path)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup endgame: near-dup pairs (exact ngram-Jaccard verify
    tier) -> connected components -> every clustered doc labeled with
    its component's min doc id (the canonical survivor). Oracled via a
    DuckDB recursive CTE computing the same min-label closure over the
    same pair set. Runs CC over the connectivity-equivalent contracted
    pair graph (ngram_jaccard_pair_graph) — identical labels, edge
    count scaling with distinct contents instead of copies — read from
    the write-once per-fixture layout (_ngram_pair_graph). The
    layout's footer row count rides along as the CC probe's edge
    bound."""
    graph, n_edges = _ngram_pair_graph(spark, sf_dir)
    return connected_components(graph, n_edges_bound=n_edges).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


def text_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc SimHash fingerprints in the portable 60-bit form, so
    the DuckDB oracle rebuilds every fingerprint bit-identically; the
    pair query (dedup_simhash_pairs) keeps the production 64-bit
    xxhash64 form."""
    return simhash(_docs(spark, sf_dir), portable=True)


_EMB_LSH = dict(threshold=0.4, n_planes=64, bands=8, max_bucket=500, dim=64)

_EMB_DIM_CACHE: dict[str, tuple[tuple, int | None]] = {}


def _embedding_dim_probe(sf_dir: str) -> int | None:
    """Embedding dimensionality from the first row of the fixture's
    embeddings.parquet, a file or a directory, via pyarrow (bounded
    single-row read, zero Spark jobs), memoized per path and source
    stamp (sources.tables._source_stamp), so a fixture regenerated
    in-place within one process lifetime can never serve a stale dim
    past the dim-mismatch loud-failure guard. None when the table has
    zero rows."""
    import pyarrow.dataset as ds

    from ..sources.tables import _source_stamp

    path = os.path.join(sf_dir, "embeddings.parquet")
    stamp = _source_stamp(path)
    if _EMB_DIM_CACHE.get(path, (None,))[0] != stamp:
        head = ds.dataset(path, format="parquet").head(1, columns=["embedding"])
        dim = len(head.column(0)[0]) if head.num_rows else None
        _EMB_DIM_CACHE[path] = (stamp, dim)
    return _EMB_DIM_CACHE[path][1]


def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs on the PRODUCTION (scale) path:
    random-hyperplane LSH banding gates an Arrow-batched exact-cosine
    verify, so compute is bucket-bounded, never all-pairs — the shape
    that survives when the corpus matrix stops fitting one executor.
    The operator's md5-Rademacher planes + integer-quantized
    projections let the DuckDB oracle rebuild every sign bit and
    bucket identically; the exact all-pairs operator (embedding_near_dup_pairs)
    stays as the verify twin, with LSH recall pytest-asserted against
    it. The synthetic embeddings have no planted duplicates (max
    pairwise cosine ~0.6), so the threshold sits at the fixture's
    high-similarity tail; real pipelines run 0.9+."""
    emb = load_table(spark, sf_dir, "embeddings")
    # the generated oracle renders the plane matrix for exactly
    # _EMB_LSH['dim'] dimensions while the Spark kernel infers dim from
    # the data — a fixture dim change must fail LOUDLY here, not as a
    # confusing downstream parity mismatch. The probe reads ONE row
    # via the pyarrow reader (no Spark job — the r11 plan paid a
    # first() job per run for one scalar).
    dim = _embedding_dim_probe(sf_dir)
    if dim != _EMB_LSH["dim"]:
        raise ValueError(
            f"embeddings fixture dim {dim} != _EMB_LSH dim {_EMB_LSH['dim']}; "
            "regenerate the oracle plane matrix to match"
        )
    return embedding_lsh_pairs(
        emb,
        threshold=_EMB_LSH["threshold"],
        n_planes=_EMB_LSH["n_planes"],
        bands=_EMB_LSH["bands"],
        max_bucket=_EMB_LSH["max_bucket"],
    )


def corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pipeline, composed from the operators
    this engine ships — the shape a training-data build actually runs:

    1. quality gate: composite quality_score >= 0.5 AND a minimum
       whitespace-token count (the integer bound does the sharp
       filtering — bit-exact across engines — while the score
       threshold sits far below the fixture's 0.75+ score mass, so no
       float-boundary row flips);
    2. exact dedup: keep only the min doc_id per normalized content
       hash;
    3. near-dup dedup: drop every doc whose ngram-Jaccard connected
       component has a smaller member (the canonical survivor policy
       of dedup_clusters);
    4. report: per-language surviving doc + token counts.

    Each stage is the independently-oracled operator applied to the
    full corpus, so the composition itself is what this query proves;
    the DuckDB oracle replays all three predicates (recursive-CTE
    clusters, md5 exact-keep, quality gate) over the same parquet."""
    d = _docs(spark, sf_dir)
    keep_exact = exact_dedup(d).select(F.col("keep_id").alias("doc_id"))
    graph, n_edges = _ngram_pair_graph(spark, sf_dir)
    dropped = (
        connected_components(graph, n_edges_bound=n_edges)
        .where(F.col("id") != F.col("cluster_id"))
        .select(F.col("id").alias("doc_id"))
    )
    kept = (
        d.where(
            (quality_score("text") >= F.lit(0.5))
            & (whitespace_token_count("text") >= F.lit(30))
        )
        .join(keep_exact, "doc_id", "left_semi")
        .join(dropped, "doc_id", "left_anti")
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(whitespace_token_count("text")).cast("bigint").alias("ws_tokens"),
    )


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment (80/10/10) by hash
    bucket of the doc id — the split every training pipeline needs to
    be STABLE under corpus growth (a doc's split never changes when
    other docs are added, unlike fraction-based sampleBy). Uses the
    portable md5 hash so the DuckDB oracle reproduces every
    assignment bit-identically; per-(lang, split) counts are the
    declared output."""
    from ..functions.porthash import portable_hash64

    d = _docs(spark, sf_dir)
    bucket = portable_hash64(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the first 5 vectors as queries."""
    emb = _emb(spark, sf_dir)
    return brute_force_topk(emb, queries_from_corpus(emb, n=5), k=10)


_IVF_CERT_CACHE: dict[tuple[str, str], tuple[tuple, DataFrame]] = {}


def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN on the VALUE gate via a recall certificate: the
    IVF-bucketed approximate top-10 (16 cells, 8 probes, 1 Lloyd
    iteration — the candidate-gated scan shape that replaces
    brute-force when the corpus stops fitting one pass) is scored
    in-query against the exact brute-force top-10, emitting one row
    (n_queries, mean_recall_ok) where the flag asserts mean recall@10
    >= 55% (measured 70% on the fixture; the margin absorbs
    float-summation jitter in the Lloyd step). DuckDB replays
    n_queries from the same query-set rule (vec_id < 5) and asserts
    the flag — the gate now verifies the ANN contract itself, not just
    row shape. Exact per-pair values stay oracled via
    similarity_bruteforce_topk; the tighter pytest bound in
    tests/test_similarity.py.

    The declared frame is memoized per (application, fixture) and the
    embeddings table's source stamp, so a rewritten corpus is indexed
    again: IVF
    index construction — the Lloyd pass plus the centroid/probe-map
    collects inside ivf_topk — is a BUILD-ONCE cost in any ANN system,
    amortized across queries against the same corpus. Every
    materialization of the returned frame still executes the full
    candidate scan, cosine scoring, top-k windows, and the recall
    join; only the index build is reused."""
    from ..sources.tables import _source_stamp

    key = (spark.sparkContext.applicationId, sf_dir)
    stamp = _source_stamp(os.path.join(sf_dir, "embeddings.parquet"))
    if _IVF_CERT_CACHE.get(key, (None,))[0] == stamp:
        return _IVF_CERT_CACHE[key][1]
    emb = _emb(spark, sf_dir)
    qs = queries_from_corpus(emb, n=5)
    exact = brute_force_topk(emb, qs, k=10).select("query_id", "vec_id")
    approx = ivf_topk(emb, qs, k=10, n_centroids=16, n_probe=8).select(
        "query_id", "vec_id"
    )
    # ONE pass over the exact side: left join marks hits, a grouped
    # aggregate forms per-query recall, then one global aggregate —
    # the two-branch (semi-join + rejoin) form evaluated the exact
    # brute-force lineage twice (the multi-consumer recompute class).
    hits = approx.withColumn("_hit", F.lit(1))
    per_q = (
        exact.join(hits, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("_hit").alias("n_hit"),
        )
        .select(
            "query_id", (F.col("n_hit") / F.col("n_exact")).alias("recall")
        )
    )
    out = per_q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        (F.avg("recall") >= 0.55).cast("int").alias("mean_recall_ok"),
    )
    _IVF_CERT_CACHE[key] = (stamp, out)
    return out


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus token statistics (whitespace + BPE-ish)."""
    d = _docs(spark, sf_dir)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(whitespace_token_count("text")).alias("ws_tokens"),
        F.sum(bpe_ish_token_count("text")).alias("bpe_tokens"),
        # exact integer fixed-point average (scale 1e4): integer
        # arithmetic is bit-identical across engines, unlike a rounded
        # binary double (r2) or a DECIMAL cast (r3), both of which the
        # driver's value hash rejected for this column
        F.expr("(sum(length(text)) * 10000) DIV nullif(count(text), 0)").alias(
            "avg_chars_e4"
        ),
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality signals for the first 100 docs."""
    d = _docs(spark, sf_dir).where(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        F.round(alpha_ratio("text"), 4).alias("alpha_ratio"),
        F.round(stopword_ratio("text", "en"), 4).alias("en_stop_ratio"),
        whitespace_token_count("text").alias("n_tokens"),
        quality_score("text").alias("quality"),
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted-language histogram (stopword-argmax heuristic; the
    synthetic corpus is English-vocabulary soup, so the useful check
    is determinism + the hand-built-sentence tests)."""
    from ..sources.tables import fan_out

    # the per-doc score is ~langs x tokens interpreted lambda calls —
    # heavy enough to fan out when the scan arrives single-partition
    d = fan_out(_docs(spark, sf_dir))
    return d.groupBy(lang_id("text").alias("pred_lang")).agg(
        F.count(F.lit(1)).alias("n")
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint summary per doc (count + min, so the
    result is compact and deterministic). The winnow hashes with the
    portable md5 hash, so DuckDB replays it bit-identically (full
    value-hash oracle)."""
    d = _docs(spark, sf_dir)
    fp = winnowing_fingerprints(d, k=8, window=4)
    return fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.min("fingerprint").alias("min_fp"),
    )


# Shared by the pair oracle and the cluster oracle (which wraps it in
# a recursive min-label closure) — one source of truth for the pair
# semantics on the DuckDB side.
_NGRAM_PAIRS_SQL = """
        WITH sh AS (
            SELECT DISTINCT doc_id, substr(text, i, 6) AS g
            FROM documents, unnest(generate_series(1, length(text) - 5)) AS t(i)
            WHERE length(text) >= 6
        ), hot AS (
            SELECT g FROM sh GROUP BY g
            HAVING count(*) > greatest(1, least(CAST(floor(
                0.02 * (SELECT count(DISTINCT doc_id) FROM documents))
                AS BIGINT), 500))
        ), kept AS (
            SELECT * FROM sh WHERE g NOT IN (SELECT g FROM hot)
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id
        ), inter AS (
            SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
            FROM kept x JOIN kept y ON x.g = y.g AND x.doc_id < y.doc_id
            GROUP BY 1, 2
        )
        SELECT a, b, round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON a = sa.doc_id
        JOIN sizes sb ON b = sb.doc_id
        WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.6
    """

# Ground truth for the LSH recall certificates: raw shingle-Jaccard
# (NO doc-frequency cap — the space MinHash signatures estimate) at
# threshold 0.9, mirroring ngram_jaccard_pairs(k=6, threshold=0.9,
# max_doc_freq_frac=1.0) including its round(j, 4) boundary behavior.
# Truth pairs are restricted to a DETERMINISTIC doc sample (both
# endpoints in doc_id % mod == 0): a recall estimate only needs a
# bounded truth sample, and the uncapped exact-Jaccard self-join
# below is quadratic in its input — sampling is what keeps the
# CERTIFICATE (not the operator) non-quadratic (r6 verdict #3). The
# modulus is SCALE-AWARE with an ABSOLUTE budget, computed inside the
# query on BOTH engines (broadcast scalar on the Spark side, scalar
# subquery in the oracle — no driver-side count):
#     mod = max(2, ceil(n_docs / _TRUTH_SAMPLE_BUDGET))
# so the sampled doc count is ~_TRUTH_SAMPLE_BUDGET at ANY corpus
# size. A proportional mod (the first r7 cut used a fixed mod 2) is
# itself a scale bug: at the derived sf1 fixture 25k sampled docs ×
# near-universal shingles (max df ~3900 at sf0.1) OOMed a 64g heap
# inside the in-memory per-shingle pair expansion. With the budget,
# sf0.01/sf0.1 keep mod 2 (6/66 truth pairs, measured) and sf1 gets
# mod 20 — constant certificate work at every scale. The df cap must
# NOT be applied to truth: capping changes the Jaccard space (sizes
# and intersections shrink non-uniformly) and manufactures artifact
# pairs — measured 400 "truth" pairs at sf0.1 vs 66 real.
_TRUTH_SAMPLE_BUDGET = 2500

_TRUTH_MOD_SQL = (
    f"(SELECT greatest(2, CAST(ceil(count(*) * 1.0 / {_TRUTH_SAMPLE_BUDGET})"
    " AS BIGINT)) FROM documents)"
)

_RAW_NGRAM_TRUTH_SQL = f"""
        WITH sh AS (
            SELECT DISTINCT doc_id, substr(text, i, 6) AS g
            FROM documents, unnest(generate_series(1, length(text) - 5)) AS t(i)
            WHERE length(text) >= 6 AND doc_id % {_TRUTH_MOD_SQL} = 0
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
            FROM sh x JOIN sh y ON x.g = y.g AND x.doc_id < y.doc_id
            GROUP BY 1, 2
        )
        SELECT a, b
        FROM inter
        JOIN sizes sa ON a = sa.doc_id
        JOIN sizes sb ON b = sb.doc_id
        WHERE round(i * 1.0 / (sa.n + sb.n - i), 4) >= 0.9
    """

_PAIR_CERT_SQL = f"""
        SELECT CAST(count(*) AS BIGINT) AS n_truth,
               CAST(1 AS INT) AS recall_ok
        FROM ({_RAW_NGRAM_TRUTH_SQL})
    """

def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination on the gate: documents with
    doc_id % 37 == 0 pose as the held-out eval set; every other
    document sharing >= 1 distinct word 4-gram with it is flagged with
    its hit count. The benchmark's n-gram set is broadcast (eval sets
    are small by nature), so the corpus side is one scan + one
    partial-agg — the shape that survives a 100 TB corpus. n=4 suits
    the fixture's tiny vocabulary; real corpora use n~13
    (operators/decontam.py)."""
    from ..sources.tables import fan_out

    docs = fan_out(_docs(spark, sf_dir))
    bench = docs.where(F.col("doc_id") % 37 == 0)
    corpus = docs.where(F.col("doc_id") % 37 != 0)
    return contamination_hits(corpus, bench, n=4)


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document — duplicate-bigram
    and top-word counts as exact integers from pure JVM array
    expressions (no shuffle: the plan is scan -> project). Quality
    pipelines threshold ratios of these columns."""
    from ..sources.tables import fan_out

    # two-step select: four direct rep["field"] projections would
    # inline the (non-cheap, interpreted) profile expression four
    # times; staging the struct column keeps ONE evaluation per row
    # (CollapseProject declines to merge through a non-cheap expr)
    return (
        fan_out(_docs(spark, sf_dir))
        .select("doc_id", repetition_profile("text").alias("_rep"))
        .select(
            "doc_id",
            F.col("_rep.n_words").alias("n_words"),
            F.col("_rep.n_bigrams").alias("n_bigrams"),
            F.col("_rep.n_dup_bigrams").alias("n_dup_bigrams"),
            F.col("_rep.top_word_count").alias("top_word_count"),
        )
    )


QUERIES = {
    "corpus_decontaminate": corpus_decontaminate,
    "text_repetition": text_repetition,
    "text_token_stats": text_token_stats,
    "dedup_clusters": dedup_clusters,
    "corpus_curate": corpus_curate,
    "corpus_split": corpus_split,
    "text_quality": text_quality,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "similarity_bruteforce_topk": similarity_bruteforce_topk,
    "similarity_ivf_topk": similarity_ivf_topk,
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_pairs": dedup_minhash_pairs,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "text_simhash": text_simhash,
    "dedup_embedding_pairs": dedup_embedding_pairs,
}

ORACLES = {
    # same normalization + word-4-gram extraction in SQL; DISTINCT
    # per-doc grams on both sides, benchmark = doc_id % 37 == 0
    "corpus_decontaminate": r"""
        WITH toks AS (
            SELECT doc_id,
                   string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                                ' ') AS t
            FROM documents
        ), ng AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS g
            FROM toks, unnest(generate_series(1, len(t) - 3)) AS u(i)
        ), bench AS (
            SELECT DISTINCT g FROM ng WHERE doc_id % 37 = 0
        )
        SELECT ng.doc_id, count(*) AS n_hits
        FROM ng JOIN bench b USING (g)
        WHERE ng.doc_id % 37 != 0
        GROUP BY ng.doc_id
    """,
    "text_repetition": r"""
        WITH toks AS (
            SELECT doc_id,
                   string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                                ' ') AS t
            FROM documents
        ), bg AS (
            SELECT doc_id,
                   CASE WHEN len(t) >= 2 THEN
                       [t[i] || ' ' || t[i + 1] FOR i IN generate_series(1, len(t) - 1)]
                   ELSE [] END AS bigrams,
                   len(t) AS n_words
            FROM toks
        ), words AS (
            SELECT doc_id, w, count(*) AS c
            FROM toks, unnest(t) AS u(w) GROUP BY 1, 2
        ), top AS (
            SELECT doc_id, max(c) AS top_word_count FROM words GROUP BY doc_id
        )
        SELECT bg.doc_id,
               CAST(bg.n_words AS INT) AS n_words,
               CAST(len(bg.bigrams) AS INT) AS n_bigrams,
               CAST(len(bg.bigrams) - len(list_distinct(bg.bigrams)) AS INT)
                   AS n_dup_bigrams,
               CAST(top.top_word_count AS INT) AS top_word_count
        FROM bg JOIN top USING (doc_id)
    """,
    "text_token_stats": r"""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS ws_tokens,
               CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')))
                    AS BIGINT) AS bpe_tokens,
               CAST((sum(length(text)) * 10000) // nullif(count(text), 0)
                    AS BIGINT) AS avg_chars_e4
        FROM documents GROUP BY lang
    """,
    "text_quality": r"""
        WITH base AS (
            SELECT doc_id,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                       / greatest(length(text), 1) AS ar,
                   length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) * 1.0
                       / greatest(length(text), 1) AS pr,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+')) END AS nt,
                   len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                       t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t)))
                       * 1.0 / greatest(CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\s+')) END, 1) AS sr,
                   length(trim(text)) * 1.0 / greatest(CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\s+')) END, 1) AS mtl
            FROM documents WHERE doc_id < 100
        )
        SELECT doc_id,
               round(ar, 4) AS alpha_ratio,
               round(sr, 4) AS en_stop_ratio,
               CAST(nt AS INT) AS n_tokens,
               round(least(greatest(ar * 0.6 + least(mtl / 8.0, 1.0) * 0.3
                     + (1 - pr) * 0.1, 0.0), 1.0), 4) AS quality
        FROM base
    """,
    "similarity_bruteforce_topk": """
        SELECT query_id, vec_id, sim, CAST(rank AS INT) AS rank
        FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   round(list_cosine_similarity(
                       list_transform(c.embedding, x -> CAST(x AS DOUBLE)),
                       list_transform(q.embedding, x -> CAST(x AS DOUBLE))), 6) AS sim,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(
                           list_transform(c.embedding, x -> CAST(x AS DOUBLE)),
                           list_transform(q.embedding, x -> CAST(x AS DOUBLE))) DESC,
                           c.vec_id) AS rank
            FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 5) q
        )
        WHERE rank <= 10
    """,
    "dedup_exact": """
        SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS content_hash,
               min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY 1
    """,
    "dedup_ngram_jaccard": _NGRAM_PAIRS_SQL,
    "dedup_minhash_pairs": _PAIR_CERT_SQL,
    "dedup_simhash_pairs": _PAIR_CERT_SQL,
    "similarity_ivf_topk": """
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               CAST(1 AS INT) AS mean_recall_ok
        FROM embeddings WHERE vec_id < 5
    """,
    "corpus_split": """
        WITH b AS (
            SELECT lang,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                       % 100 AS bucket
            FROM documents
        )
        SELECT lang,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs
        FROM b GROUP BY 1, 2
    """,
    "corpus_curate": rf"""
        WITH RECURSIVE pairs AS MATERIALIZED ({_NGRAM_PAIRS_SQL}),
        edges AS MATERIALIZED (
            SELECT a AS src, b AS dst FROM pairs
            UNION ALL
            SELECT b AS src, a AS dst FROM pairs
        ),
        reach AS (
            SELECT DISTINCT src AS id, src AS r FROM edges
            UNION
            SELECT e.dst AS id, reach.r
            FROM reach JOIN edges e ON e.src = reach.id
        ),
        dropped AS (
            SELECT id AS doc_id FROM reach GROUP BY id HAVING min(r) != id
        ),
        keep_exact AS (
            SELECT min(doc_id) AS doc_id
            FROM documents
            GROUP BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        ),
        scored AS (
            SELECT doc_id, lang,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+')) END AS nt,
                   round(least(greatest(
                       (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                            / greatest(length(text), 1)) * 0.6
                       + least((length(trim(text)) * 1.0
                            / greatest(CASE WHEN length(trim(text)) = 0 THEN 0
                                ELSE len(string_split_regex(trim(text), '\s+')) END, 1))
                            / 8.0, 1.0) * 0.3
                       + (1 - length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g'))
                            * 1.0 / greatest(length(text), 1)) * 0.1,
                   0.0), 1.0), 4) AS q
            FROM documents
        )
        SELECT lang, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS ws_tokens
        FROM scored
        WHERE q >= 0.5 AND nt >= 30
          AND doc_id IN (SELECT doc_id FROM keep_exact)
          AND doc_id NOT IN (SELECT doc_id FROM dropped)
        GROUP BY lang
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE pairs AS MATERIALIZED ({_NGRAM_PAIRS_SQL}),
        edges AS MATERIALIZED (
            SELECT a AS src, b AS dst FROM pairs
            UNION ALL
            SELECT b AS src, a AS dst FROM pairs
        ),
        reach AS (
            SELECT DISTINCT src AS id, src AS r FROM edges
            UNION
            SELECT e.dst AS id, reach.r
            FROM reach JOIN edges e ON e.src = reach.id
        )
        SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    """,
}


def _langid_oracle_sql() -> str:
    """Generate the DuckDB oracle for text_langid from the SAME
    STOPWORDS table the Spark expression uses, so the two can never
    drift. Tie-break mirrors Spark's array_max over struct(hits,
    lang): max hits, then lexicographically greatest lang."""
    from ..functions.oracle_gen import sql_values_from_mapping
    from ..functions.text import STOPWORDS

    values = sql_values_from_mapping(STOPWORDS, "l", ["lang", "words"])
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
            FROM documents
        ), scores AS (
            SELECT doc_id, l.lang,
                   len(list_filter(t, x -> list_contains(l.words, x))) AS hits
            FROM toks, {values}
        ), best AS (
            SELECT doc_id, lang, hits,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY hits DESC, lang DESC) AS rn
            FROM scores
        )
        SELECT CASE WHEN hits >= 1 THEN lang ELSE 'und' END AS pred_lang,
               count(*) AS n
        FROM best WHERE rn = 1 GROUP BY 1
    """


ORACLES["text_langid"] = _langid_oracle_sql()


ORACLES["text_fingerprint"] = """
    WITH h AS (
        SELECT doc_id, u.i AS pos,
               ('0x' || substr(md5(substr(text, u.i, 8)), 1, 15))::BIGINT AS hv
        FROM documents,
             unnest(range(1, greatest(length(text) - 8 + 1, 0) + 1)) AS u(i)
        WHERE length(text) >= 8
    ), m AS (
        SELECT doc_id,
               min(hv) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM h
    )
    SELECT doc_id, count(DISTINCT fp) AS n_fingerprints, min(fp) AS min_fp
    FROM m GROUP BY doc_id
"""


def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with the portable md5 hash family
    and r=1 banding (bands == num_hashes), which makes the pair set
    exactly SQL-expressible: est > 0 implies a shared band bucket, so
    modulo the (also replicated) bucket cap, the result equals
    {pairs: est_jaccard >= threshold}. The production query
    (dedup_minhash_pairs) keeps xxhash64 + 64 hashes; this one proves
    the MinHash machinery end-to-end against DuckDB, over a bounded
    doc subset (one md5 per shingle + 16 affine mins — near production
    cost, but md5 is still the portability tax)."""
    return minhash_lsh_pairs(
        _docs(spark, sf_dir).where(F.col("doc_id") < 2000),
        k=6,
        num_hashes=16,
        bands=16,
        threshold=0.7,
        max_bucket=100,
        portable=True,
    )


QUERIES["dedup_minhash_portable"] = dedup_minhash_portable


def _minhash_portable_oracle_sql(num_hashes: int = 16, k: int = 6, threshold: float = 0.7, max_bucket: int = 100) -> str:
    """DuckDB replay of dedup_minhash_portable: the same affine
    family from one md5 per shingle (porthash.minhash_affine_coeffs —
    i-th hash = (a_i * h + b_i) % MINHASH_PRIME with the constants
    rendered as literals), same min-signatures, same bucket cap, same
    threshold."""
    from ..functions.porthash import (
        MINHASH_PRIME,
        minhash_affine_coeffs,
        portable_base_hash_sql,
    )

    h_sql = portable_base_hash_sql("g")
    mins = ",\n               ".join(
        f"min(({a} * h + {b}) % {MINHASH_PRIME}) AS s{i}"
        for i, (a, b) in enumerate(minhash_affine_coeffs(num_hashes))
    )
    long_union = "\n            UNION ALL ".join(
        f"SELECT doc_id, {i} AS i, s{i} AS v FROM sig" for i in range(num_hashes)
    )
    eq_sum = " + ".join(
        f"CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    return f"""
        WITH sh AS (
            SELECT doc_id,
                   {h_sql} AS h
            FROM (
                SELECT doc_id, substr(text, u.i, {k}) AS g
                FROM documents,
                     unnest(range(1, greatest(length(text) - {k} + 1, 0) + 1)) AS u(i)
                WHERE length(text) >= {k} AND doc_id < 2000
            )
        ), sig AS (
            SELECT doc_id,
               {mins}
            FROM sh GROUP BY doc_id
        ), long AS (
            {long_union}
        ), ok_buckets AS (
            SELECT i, v FROM long GROUP BY i, v
            HAVING count(*) BETWEEN 2 AND {max_bucket}
        ), cand AS (
            SELECT DISTINCT la.doc_id AS a, lb.doc_id AS b
            FROM long la
            JOIN long lb ON la.i = lb.i AND la.v = lb.v AND la.doc_id < lb.doc_id
            JOIN ok_buckets ob ON ob.i = la.i AND ob.v = la.v
        )
        SELECT cand.a, cand.b,
               ({eq_sum}) / {num_hashes}.0 AS est_jaccard
        FROM cand
        JOIN sig sa ON sa.doc_id = cand.a
        JOIN sig sb ON sb.doc_id = cand.b
        WHERE ({eq_sum}) / {num_hashes}.0 >= {threshold}
    """


ORACLES["dedup_minhash_portable"] = _minhash_portable_oracle_sql()


def _simhash_portable_oracle_sql(n_bits: int = 60) -> str:
    """DuckDB replay of the portable SimHash: same normalize/split,
    same per-seed token hash, same sign-of-bit-sums fingerprint."""
    from ..functions.porthash import portable_hash64_sql

    ph = portable_hash64_sql("tok")
    bit_sums = ",\n               ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(n_bits)
    )
    assemble = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN (1::BIGINT << {i}) ELSE 0 END)"
        for i in range(n_bits)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, u.tok AS tok
            FROM (SELECT doc_id,
                         string_split(regexp_replace(trim(lower(text)),
                                                     '\\s+', ' ', 'g'), ' ') AS ts
                  FROM documents) d,
                 unnest(d.ts) AS u(tok)
            WHERE length(u.tok) > 0
        ), hashed AS (
            SELECT doc_id, {ph} AS h FROM toks
        ), sums AS (
            SELECT doc_id,
               {bit_sums}
            FROM hashed GROUP BY doc_id
        )
        SELECT doc_id, {assemble} AS simhash FROM sums
    """


ORACLES["text_simhash"] = _simhash_portable_oracle_sql()


def _embedding_lsh_oracle_sql(
    n_planes: int, bands: int, threshold: float, max_bucket: int, dim: int
) -> str:
    """DuckDB replay of dedup_embedding_pairs: the SAME md5-Rademacher
    plane matrix (functions/porthash.rademacher_matrix — shared
    constants, so no drift is possible), the same integer-quantized
    projections (floor(x*1e6): every product and partial sum is an
    integer < 2^53, so float64 arithmetic is exact and order-
    independent in both engines), the same band buckets, bucket cap,
    and cosine threshold."""
    from ..functions.oracle_gen import sql_float_list
    from ..functions.porthash import rademacher_matrix

    planes = rademacher_matrix(n_planes, dim)
    r = n_planes // bands

    def bit(p: int) -> str:
        return f"(list_dot_product(qe, {sql_float_list(planes[p])}) >= 0)"

    band_selects = []
    for b in range(bands):
        terms = " + ".join(
            f"(CASE WHEN {bit(b * r + j)} THEN {1 << j} ELSE 0 END)" for j in range(r)
        )
        band_selects.append(
            f"SELECT vec_id, {b} AS band_idx, ({terms}) AS band_bits FROM q"
        )
    union = "\n            UNION ALL ".join(band_selects)
    cos = (
        "round(list_cosine_similarity("
        "list_transform(ea.embedding, x -> CAST(x AS DOUBLE)), "
        "list_transform(eb.embedding, x -> CAST(x AS DOUBLE))), 6)"
    )
    return f"""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                                  x -> floor(CAST(x AS DOUBLE) * 1000000.0)) AS qe
            FROM embeddings
        ), banded AS (
            {union}
        ), ok AS (
            SELECT band_idx, band_bits FROM banded
            GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND {max_bucket}
        ), cand AS (
            SELECT DISTINCT la.vec_id AS a, lb.vec_id AS b
            FROM banded la
            JOIN banded lb ON la.band_idx = lb.band_idx
                 AND la.band_bits = lb.band_bits
                 AND la.vec_id < lb.vec_id
            JOIN ok ON ok.band_idx = la.band_idx AND ok.band_bits = la.band_bits
        )
        SELECT cand.a, cand.b, {cos} AS sim
        FROM cand
        JOIN embeddings ea ON ea.vec_id = cand.a
        JOIN embeddings eb ON eb.vec_id = cand.b
        WHERE {cos} >= {threshold}
    """


ORACLES["dedup_embedding_pairs"] = _embedding_lsh_oracle_sql(
    n_planes=_EMB_LSH["n_planes"],
    bands=_EMB_LSH["bands"],
    threshold=_EMB_LSH["threshold"],
    max_bucket=_EMB_LSH["max_bucket"],
    dim=_EMB_LSH["dim"],
)


# ---------------------------------------------------------------------------
# Round-6 additions: PII redaction, unigram-LM surprise scoring,
# stratified sampling, inverted index, fixed-point k-means.
# ---------------------------------------------------------------------------


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pack (functions/privacy.py): each document is
    enriched with synthetic-but-realistic PII derived from its own
    doc_id (the fixture corpus is PII-free word soup, so the redactor
    would otherwise never fire), then every class is counted and
    redacted. The declared output hashes the md5 of the fully
    redacted text — the oracle must reproduce every replacement
    byte-for-byte. Plan: one scan, pure JVM regex; the only exchange
    is fan_out's scan spread — the regex pack is heavy per-row work
    and the corpus arrives as one split below cluster scale (measured
    3.4s single-threaded at the derived sf1)."""
    from ..functions.privacy import pii_counts, redact_pii
    from ..sources.tables import fan_out

    d = fan_out(_docs(spark, sf_dir), min_bytes=1_000_000)
    k = F.col("doc_id")
    enriched = F.concat(
        F.lit("contact u"), k.cast("string"),
        F.lit("@mail.example.com or 10."), (k % 256).cast("string"),
        F.lit(".0."), ((k * 7) % 256).cast("string"),
        F.lit(" phone 555-"), F.lpad((k % 1000).cast("string"), 3, "0"),
        F.lit("-"), F.lpad(((k * 3) % 10000).cast("string"), 4, "0"),
        F.lit(" ssn 042-68-"), F.lpad((k % 10000).cast("string"), 4, "0"),
        F.lit(" :: "), F.substring(F.col("text"), 1, 160),
    )
    e = d.select("doc_id", enriched.alias("t"))
    return e.select(
        "doc_id",
        *pii_counts("t").values(),
        F.md5(redact_pii("t")).alias("redact_hash"),
    )


def text_unigram_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring (perplexity proxy) in EXACT integer
    arithmetic: per-token surprise = bits(total_tokens) - bits(count)
    where bits(n) = length of n's binary form (= floor(log2 n) + 1,
    computed via bin() on both engines — no float log whose last bit
    could differ). Rare-word-heavy documents score high; boilerplate
    scores low. Two corpus passes: build the vocab (shuffle on token),
    then score docs with the vocab BROADCAST — the corpus-side rows
    never shuffle. At 100 TB the vocab gets a document-frequency cap
    (same hazard + fix as operators/dedup.ngram_jaccard_pairs)."""
    from ..operators.dedup import normalize_text

    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(F.split(normalize_text("text"), " ")).alias("tok")
    ).where(F.length("tok") > 0)
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    vb = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        (F.length(F.bin(F.col("total"))) - F.length(F.bin(F.col("cnt"))))
        .cast("bigint")
        .alias("bits"),
    )
    return (
        toks.join(F.broadcast(vb), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("bits").alias("surprise_bits"),
            F.expr("(sum(bits) * 10000) DIV count(*)").alias("mean_bits_e4"),
        )
    )


def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling: 10% of 'en' (the dominant
    language), 25% of everything else, by portable hash bucket of
    (lang, doc_id) — reproducible across engines AND stable under
    corpus growth, unlike RNG sampleBy. Stateless filter: no shuffle,
    fully pushdown-friendly."""
    from ..functions.porthash import portable_hash64

    d = _docs(spark, sf_dir)
    bucket = (
        portable_hash64(
            F.concat(F.col("lang"), F.lit(":"), F.col("doc_id").cast("string"))
        )
        % 100
    )
    pct = F.when(F.col("lang") == "en", 10).otherwise(25)
    return d.where(bucket < pct).select("doc_id", "lang")


def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list construction (the classic MapReduce operator the
    reference's group-count kernel generalizes): term -> document
    frequency + comma-joined sorted posting list. Terms are word
    BIGRAMS (the fixture's unigram vocabulary is 31 words each hitting
    ~80% of docs — unigram postings carry no signal; real indexes face
    the same head-term problem and solve it the same way: drop terms
    above a df cap). Band: 2 <= df <= 100 — hapaxes and stop-terms
    excluded. One shuffle on the term; posting lists are bounded by
    the cap, so no reducer hot-spots at scale."""
    from ..operators.dedup import normalize_text
    from ..sources.tables import fan_out

    d = fan_out(_docs(spark, sf_dir))
    # tokens staged + zip_with bigrams (the "Lambdas get no CSE" rule:
    # arguments evaluate once, the lambda has no captures)
    dt = d.select("doc_id", F.split(normalize_text("text"), " ").alias("_tk"))
    toks = F.col("_tk")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    terms = dt.select(
        "doc_id", F.explode(F.array_distinct(bigrams)).alias("term")
    )
    return (
        terms.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .where((F.col("df") >= 2) & (F.col("df") <= 100))
    )


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point Lloyd's k-means (operators/kmeans.py): k=4, 2
    iterations, seeded with the 4 smallest vec_ids — cluster sizes +
    integer inertia, bit-identical to the DuckDB replay. The float
    production twin is the mapInPandas Lloyd step inside
    operators/similarity.ivf_topk."""
    from ..operators.kmeans import kmeans_fixedpoint_arrow

    return kmeans_fixedpoint_arrow(_emb(spark, sf_dir), k=4, iters=2)


QUERIES.update(
    {
        "text_pii_redact": text_pii_redact,
        "text_unigram_surprise": text_unigram_surprise,
        "corpus_sample_stratified": corpus_sample_stratified,
        "text_inverted_index": text_inverted_index,
        "embedding_kmeans": embedding_kmeans,
    }
)


def _pii_redact_oracle_sql() -> str:
    from ..functions.privacy import pii_counts_sql, redact_pii_sql

    enriched = (
        "('contact u' || CAST(doc_id AS VARCHAR)"
        " || '@mail.example.com or 10.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)"
        " || ' phone 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')"
        " || '-' || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0')"
        " || ' ssn 042-68-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' :: ' || substr(text, 1, 160))"
    )
    counts = ",\n               ".join(pii_counts_sql("t").values())
    return f"""
        WITH e AS (SELECT doc_id, {enriched} AS t FROM documents)
        SELECT doc_id,
               {counts},
               md5({redact_pii_sql('t')}) AS redact_hash
        FROM e
    """


ORACLES["text_pii_redact"] = _pii_redact_oracle_sql()

ORACLES["text_unigram_surprise"] = r"""
    WITH toks AS (
        SELECT doc_id, u.tok AS tok
        FROM (SELECT doc_id,
                     string_split(regexp_replace(trim(lower(text)),
                                                 '\s+', ' ', 'g'), ' ') AS ts
              FROM documents) d,
             unnest(d.ts) AS u(tok)
        WHERE length(u.tok) > 0
    ), vocab AS (
        SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
    ), tot AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab
    ), vb AS (
        SELECT tok,
               CAST(length(bin(total)) - length(bin(cnt)) AS BIGINT) AS bits
        FROM vocab, tot
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(bits) AS BIGINT) AS surprise_bits,
           CAST((sum(bits) * 10000) // count(*) AS BIGINT) AS mean_bits_e4
    FROM toks JOIN vb USING (tok)
    GROUP BY doc_id
"""


def _sample_stratified_oracle_sql() -> str:
    from ..functions.porthash import portable_hash64_sql

    h = portable_hash64_sql("(lang || ':' || CAST(doc_id AS VARCHAR))")
    return f"""
        SELECT doc_id, lang FROM documents
        WHERE ({h}) % 100 < CASE WHEN lang = 'en' THEN 10 ELSE 25 END
    """


ORACLES["corpus_sample_stratified"] = _sample_stratified_oracle_sql()

ORACLES["text_inverted_index"] = r"""
    WITH toks AS (
        SELECT doc_id,
               string_split(regexp_replace(trim(lower(text)),
                                           '\s+', ' ', 'g'), ' ') AS t
        FROM documents
    ), terms AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] AS term
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2
    )
    SELECT term, CAST(count(*) AS BIGINT) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM terms
    GROUP BY term
    HAVING count(*) BETWEEN 2 AND 100
"""


def _kmeans_oracle() -> str:
    from ..operators.kmeans import kmeans_oracle_sql

    return kmeans_oracle_sql(k=4, iters=2)


ORACLES["embedding_kmeans"] = _kmeans_oracle()


def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 characteristic terms by TF-IDF, in EXACT
    integer arithmetic: score = tf * idf_bits where idf_bits =
    bits(n_docs) - bits(df) (the bin()-length floor-log2 used by
    text_unigram_surprise — no float log). Terms are word bigrams
    (same reasoning as text_inverted_index: the fixture's unigram
    vocabulary is saturated), stop-bigrams above df 100 dropped by the
    same cap.

    Plan (r12): tf is computed INSIDE the row — sort the document's
    bigram array and run-length encode it (zip_with over run-start
    positions) — so the (doc, term, tf) frame needs NO shuffle at
    all. Per-document term frequency needs no cross-row state, the
    same observation that moved corpus_decontaminate's per-doc gram
    distinct in-row; the r11 plan shuffled every (doc, term-string)
    INSTANCE into a groupBy (~19M string-keyed rows at the derived
    sf1 — the one r11 perf-weak residual whose gap did NOT amortize
    with scale: 5.0x at both sf0.1 and sf1). Downstream: df
    aggregates the tf frame's term column (partial agg compresses to
    per-partition distinct terms before the exchange), idf joins
    back, and the per-doc top-5 window re-partitions by doc_id. Ties
    break on term for determinism."""
    from ..operators.dedup import normalize_text
    from ..sources.tables import fan_out

    d = fan_out(_docs(spark, sf_dir))
    # tokens staged as a column (lambda-CSE rule, see below): the
    # bigram transform references a bound array, not a re-evaluated
    # split (measured 2.25 -> 1.07 s on the sf1 bigram explode alone)
    dt = d.select("doc_id", F.split(normalize_text("text"), " ").alias("_tk"))
    toks = F.col("_tk")
    n = F.size(toks)
    # zip_with over shifted slices: arguments evaluate once, the
    # lambda has no captures (the "Lambdas get no CSE" rule)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # in-row run-length tf: runs of the sorted array are (start_i,
    # start_{i+1}) windows; zip_with pairs each run start with the
    # next (the trailing sentinel n+1 closes the last run).
    #
    # STAGED PROJECTIONS, load-bearing: the sorted array and the
    # run-start array are materialized as COLUMNS (_sb, _st) before
    # the expressions that consume them several times. Lambda bodies
    # (higher-order functions) get NO common-subexpression
    # elimination, so an inline `sb` re-evaluates
    # array_sort(transform(...)) PER ELEMENT — measured 82.8 s for
    # the bare tf frame at sf0.1 vs 0.91 s in this staged form.
    # CollapseProject will not inline a non-cheap projection output
    # that is referenced more than once, so the stage boundaries hold.
    base = dt.select("doc_id", F.array_sort(bigrams).alias("_sb"))
    sb = F.col("_sb")
    nb = F.size(sb)
    starts = F.when(
        nb >= 1,
        F.filter(
            F.sequence(F.lit(1), nb),
            # greatest(i-1, 1): index 0 is a runtime error in ANSI
            # element_at, and relying on Or short-circuit to skip the
            # right operand at i==1 is an implicit evaluation-order
            # dependency (r12 advisory). Clamped, i==1 compares
            # sb[1] != sb[1] (false) and the left disjunct decides.
            lambda i: (i == 1)
            | (
                F.element_at(sb, i)
                != F.element_at(sb, F.greatest(i - 1, F.lit(1)))
            ),
        ),
    ).otherwise(F.array().cast("array<int>"))
    staged = base.select("doc_id", "_sb", starts.alias("_st"))
    stc = F.col("_st")
    run_tf = F.when(
        nb >= 1,
        F.zip_with(
            stc,
            F.concat(
                # greatest(.., 0): slice raises on a negative length
                # when the doc has a single run (starts length 1)
                F.slice(stc, 2, F.greatest(F.size(stc) - 1, F.lit(0))),
                F.array(nb + 1),
            ),
            lambda s, e: F.struct(
                F.element_at(sb, s).alias("term"),
                (e - s).cast("bigint").alias("tf"),
            ),
        ),
        # no-bigram docs yield NO tf rows (zip_with would pad the empty
        # starts against the [nb+1] sentinel into one NULL row)
    ).otherwise(F.array().cast("array<struct<term:string,tf:bigint>>"))
    # tf feeds BOTH the df/idf aggregation and the score join. The
    # r11 persist is GONE (r12): tf's lineage is now a pure map-side
    # pipeline (scan -> project -> explode, zero shuffles), so letting
    # the two consumers re-execute it costs less than materializing
    # ~19M rows to memory+disk (measured 3.99 vs 4.35 s uncached at
    # sf1) — and the pure declaration re-qualifies for the
    # prepared-plan cache. (The persist existed to protect a groupBy
    # that no longer exists; nothing here has an exchange for AQE to
    # reuse or miss.)
    tf = staged.select("doc_id", F.explode(run_tf).alias("_r")).select(
        "doc_id", F.col("_r.term").alias("term"), F.col("_r.tf").alias("tf")
    )
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    # n_docs comes from the parquet footers (sources.tables.parquet_rows
    # — O(files) metadata, zero Spark jobs). int.bit_length() ==
    # length(bin(n)) for n >= 1, so idf_bits folds to a literal minus
    # the df bin length — the r11 plan paid a count aggregate plus a
    # broadcast join per run for a constant the footer already holds.
    from ..sources.tables import parquet_rows

    n_docs = parquet_rows(f"{sf_dir}/documents.parquet")
    idf = dfc.where(F.col("df") <= 100).select(
        "term",
        "df",
        (F.lit(int(n_docs).bit_length()) - F.length(F.bin(F.col("df"))))
        .cast("bigint")
        .alias("idf_bits"),
    )
    scored = tf.join(idf, "term").select(
        "doc_id", "term", "tf", "df", (F.col("tf") * F.col("idf_bits")).alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
    )


QUERIES["text_tfidf_topterms"] = text_tfidf_topterms

ORACLES["text_tfidf_topterms"] = r"""
    WITH toks AS (
        SELECT doc_id,
               string_split(regexp_replace(trim(lower(text)),
                                           '\s+', ' ', 'g'), ' ') AS t
        FROM documents
    ), terms AS (
        SELECT doc_id, t[i] || ' ' || t[i + 1] AS term
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
    ), dfc AS (
        SELECT term, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 100
    ), nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
               tf.tf * (length(bin(nd.n_docs)) - length(bin(dfc.df))) AS score
        FROM tf JOIN dfc USING (term) CROSS JOIN nd
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           CAST(score AS BIGINT) AS score, CAST(rank AS INT) AS rank
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        FROM scored
    )
    WHERE rank <= 5
"""


# --- chunking / packing / language balancing (training-data prep) ----------
#
# Additive to the reference (its pipeline ends at k-mer counts): the
# three steps between a curated corpus and a training batch stream —
# sliding-window chunking, token-budget sequence packing, and
# temperature-based language re-balancing. All three are pure JVM
# expression plans (no Python row path) with exact-arithmetic outputs.

_CHUNK_W = 200  # chunk width (chars)
_CHUNK_S = 160  # stride — 40-char overlap between adjacent chunks


def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: split every document into overlapping
    W=200-char windows at stride S=160 (the RAG/pretraining chunk
    shape). One chunk starts at every multiple of S inside the text,
    so a doc of n chars yields 1 + (n-1) DIV S chunks; the final
    chunk is naturally short. Narrow transform only — explode +
    substring, no shuffle at all; chunk identity is the md5 of its
    bytes so the driver hash covers the exact chunk content."""
    d = _docs(spark, sf_dir)
    return (
        d.select(
            "doc_id",
            "text",
            F.explode(
                F.expr(
                    f"sequence(0, CAST((greatest(length(text), 1) - 1)"
                    f" DIV {_CHUNK_S} AS INT))"
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.col("i").cast("int").alias("chunk_ix"),
            F.expr(f"substring(text, i * {_CHUNK_S} + 1, {_CHUNK_W})").alias(
                "chunk"
            ),
        )
        .select(
            "doc_id",
            "chunk_ix",
            F.length("chunk").cast("int").alias("chunk_chars"),
            F.md5("chunk").alias("chunk_md5"),
        )
    )


QUERIES["text_chunk_sliding"] = text_chunk_sliding
ORACLES["text_chunk_sliding"] = f"""
    SELECT doc_id, CAST(i AS INT) AS chunk_ix,
           CAST(length(substring(text, CAST(i AS INT) * {_CHUNK_S} + 1,
                                 {_CHUNK_W})) AS INT) AS chunk_chars,
           md5(substring(text, CAST(i AS INT) * {_CHUNK_S} + 1, {_CHUNK_W}))
               AS chunk_md5
    FROM documents,
         unnest(generate_series(0, (greatest(length(text), 1) - 1) // {_CHUNK_S}))
             AS u(i)
"""

_PACK_BUDGET = 2048  # tokens per packed training sequence


def corpus_pack_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: stream each language's documents
    in doc_id order into contiguous 2048-token training sequences; a
    document belongs to the sequence its FIRST token lands in
    (start-offset binning — the deterministic, shuffle-free twin of
    greedy first-fit packing). The cumulative sum is a window
    partitioned BY LANGUAGE, so the sort is per-partition, not global;
    at 100 TB the partition key widens to (lang, shard) with
    per-shard budgets — the binning arithmetic is unchanged. Output is
    per-sequence occupancy: how many docs and tokens each packed
    sequence holds (the padding-waste signal a packing job reports)."""
    d = _docs(spark, sf_dir)
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = d.select(
        "lang", "doc_id", whitespace_token_count("text").alias("tok")
    )
    return (
        toks.withColumn("cum", F.sum("tok").over(w))
        .select(
            "lang",
            F.expr(f"CAST((cum - tok) DIV {_PACK_BUDGET} AS BIGINT)").alias(
                "seq_bin"
            ),
            "tok",
        )
        .groupBy("lang", "seq_bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("tok").cast("bigint").alias("sum_tokens"),
        )
    )


QUERIES["corpus_pack_tokens"] = corpus_pack_tokens
ORACLES["corpus_pack_tokens"] = rf"""
    WITH tk AS (
        SELECT lang, doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END AS tok
        FROM documents
    ), cs AS (
        SELECT lang, tok,
               sum(tok) OVER (PARTITION BY lang ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum
        FROM tk
    )
    SELECT lang, CAST((cum - tok) // {_PACK_BUDGET} AS BIGINT) AS seq_bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS sum_tokens
    FROM cs GROUP BY 1, 2
"""


def corpus_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language re-balancing (the multilingual
    sampling scheme: weight each language by n^tau, tau=0.5, so
    low-resource languages are up-sampled relative to their share).
    sqrt is IEEE-754 correctly rounded on both engines and the weight
    is floored to e6 fixed-point BEFORE normalization, so the shares
    are exact integer arithmetic end-to-end. The normalizing total is
    a broadcast 1-row aggregate, not a global window."""
    d = _docs(spark, sf_dir)
    g = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "w_e6",
            F.expr(
                "CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)"
            ),
        )
    )
    tot = g.agg(F.sum("w_e6").alias("_tot"))
    return g.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        "w_e6",
        F.expr("(w_e6 * 1000000) DIV _tot").cast("bigint").alias("share_e6"),
    )


QUERIES["corpus_temperature_weights"] = corpus_temperature_weights
ORACLES["corpus_temperature_weights"] = """
    WITH g AS (
        SELECT lang, count(*) AS n_docs,
               CAST(floor(sqrt(count(*)) * 1000000) AS BIGINT) AS w_e6
        FROM documents GROUP BY lang
    ), t AS (SELECT sum(w_e6) AS tot FROM g)
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, w_e6,
           CAST((w_e6 * 1000000) // tot AS BIGINT) AS share_e6
    FROM g CROSS JOIN t
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup — the daily-batch shape: dedup a NEW
    batch of documents (doc_id % 5 == 0, the deterministic stand-in
    for today's arrivals) against the already-ingested HISTORY
    (everything else) without ever re-shuffling history's text. Two
    stages, both keyed on the fixed-width content hash: (1) pick the
    min-id canonical per hash WITHIN the batch (window on the batch
    only), (2) anti-join the canonicals against history's distinct
    hash set — at 100 TB that's a join of today's batch against a
    hash-only index (16 bytes/doc), not a re-scan of the corpus. The
    normalization is exact_dedup's (operators/dedup.py:31), so
    survivors here are exactly the batch docs exact_dedup would have
    kept had history been deduped first."""
    from ..operators.dedup import normalize_text

    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.md5(normalize_text("text")).alias("content_hash")
    )
    hist = d.where(F.col("doc_id") % 5 != 0).select("content_hash").distinct()
    batch = d.where(F.col("doc_id") % 5 == 0)
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    canon = (
        batch.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    return canon.join(hist, "content_hash", "left_anti").select(
        "doc_id", "lang", "content_hash"
    )


QUERIES["dedup_incremental"] = dedup_incremental
ORACLES["dedup_incremental"] = r"""
    WITH k AS (
        SELECT doc_id, lang,
               md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_hash
        FROM documents
    ),
    hist AS (SELECT DISTINCT content_hash FROM k WHERE doc_id % 5 != 0),
    canon AS (
        SELECT doc_id, lang, content_hash,
               row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
        FROM k WHERE doc_id % 5 = 0
    )
    SELECT doc_id, lang, content_hash
    FROM canon
    WHERE rn = 1
      AND content_hash NOT IN (SELECT content_hash FROM hist)
"""

_LM_MIN_CONTEXT = 50  # min bigram observations before a context is emitted


def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language model head: for every context word with >= 50
    observed continuations, the argmax next word and its exact e4
    conditional probability — the corpus-statistics kernel under
    next-token-prediction data analysis. Counts shuffle once on
    (w1, w2); the per-context total and argmax are a window over the
    COUNTS frame (vocab-sized, not corpus-sized). Ties break
    lexicographically so the argmax is deterministic on both engines.
    fan_out spreads the scan before the per-row tokenize/explode work
    (documents lands as one split at small SFs — r8: 2.7s -> 1.35s at
    sf1), floored at 2MB of plan stats so tiny corpora skip the
    exchange; split on \\s+ directly is one regex pass instead of
    regexp_replace + literal split (token streams identical — both
    reduce to splitting on whitespace runs)."""
    from ..sources.tables import fan_out

    d = fan_out(_docs(spark, sf_dir), min_bytes=2_000_000)
    toks = d.select(
        F.split(F.trim(F.lower("text")), r"\s+").alias("t")
    ).where(F.size("t") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1,"
                " element_at(t, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    # per-context total + argmax in ONE hash aggregation instead of two
    # sort-windows over the counts frame: min(struct(-c, w2)) is the
    # (highest count, then lexicographically smallest continuation)
    # argmax — struct comparison is lexicographic, so the tie-break is
    # identical to the previous ORDER BY c DESC, w2 ASC
    g = c.groupBy("w1").agg(
        F.sum("c").alias("n"),
        F.min(F.struct((-F.col("c")).alias("negc"), F.col("w2"))).alias("_best"),
    )
    return g.where(F.col("n") >= _LM_MIN_CONTEXT).select(
        "w1",
        F.col("_best.w2").alias("next_word"),
        (-F.col("_best.negc")).cast("bigint").alias("c"),
        F.col("n").cast("bigint").alias("n"),
        F.expr("((-_best.negc) * 10000) DIV n").cast("bigint").alias("p_e4"),
    )


QUERIES["text_bigram_lm"] = text_bigram_lm
ORACLES["text_bigram_lm"] = rf"""
    WITH toks AS (
        SELECT string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
                            ' ') AS t
        FROM documents
    ), pairs AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2
    ), c AS (
        SELECT w1, w2, count(*) AS c FROM pairs GROUP BY 1, 2
    ), ranked AS (
        SELECT w1, w2, c,
               sum(c) OVER (PARTITION BY w1) AS n,
               row_number() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS rn
        FROM c
    )
    SELECT w1, w2 AS next_word, CAST(c AS BIGINT) AS c, CAST(n AS BIGINT) AS n,
           CAST((c * 10000) // n AS BIGINT) AS p_e4
    FROM ranked
    WHERE rn = 1 AND n >= {_LM_MIN_CONTEXT}
"""


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-norm profile — the sanity screen an
    embedding pipeline runs before indexing (collapsed vectors, scale
    drift between labels). All arithmetic is exact: each float32
    element is floored to an e6 integer, squared and summed
    SEQUENTIALLY inside its own array (single-vector fold — no
    cross-row float accumulation anywhere), and the per-label average
    is integer division. Higher-order array functions only; the
    vectors never leave the JVM and the only shuffle is the final
    label agg."""
    emb = _emb(spark, sf_dir)
    e = emb.select(
        "label",
        F.aggregate(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1_000_000).cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v * v,
        ).alias("norm2_e12"),
    )
    return e.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.min("norm2_e12").alias("min_norm2_e12"),
        F.max("norm2_e12").alias("max_norm2_e12"),
        F.expr("sum(norm2_e12) DIV count(1)").cast("bigint").alias(
            "avg_norm2_e12"
        ),
    )


QUERIES["embedding_norm_stats"] = embedding_norm_stats
ORACLES["embedding_norm_stats"] = """
    WITH n AS (
        SELECT label,
               CAST(list_sum(list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                         * CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)))
                    AS BIGINT) AS norm2_e12
        FROM embeddings
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           min(norm2_e12) AS min_norm2_e12,
           max(norm2_e12) AS max_norm2_e12,
           CAST(sum(norm2_e12) // count(*) AS BIGINT) AS avg_norm2_e12
    FROM n GROUP BY label
"""


def dedup_editdistance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verify tier on the VALUE gate
    (operators/dedup.editdistance_verify_pairs): length-band blocked
    candidate pairs scored with JVM levenshtein. Unlike the xxhash64
    minhash/simhash tiers, the blocking key is pure arithmetic on
    (lang, char_length), so the DuckDB oracle reproduces the exact
    pair set and the integer distances hash bit-for-bit — the
    portable verify-tier complement the recall certificates lean on.
    Fan-out keeps the O(len_a x len_b) DP matrix work CPU-parallel on
    the handful-of-files fixture scan (same rule as text_repetition)."""
    from ..operators.dedup import editdistance_verify_pairs
    from ..sources.tables import fan_out

    return editdistance_verify_pairs(fan_out(_docs(spark, sf_dir)))


QUERIES["dedup_editdistance_verify"] = dedup_editdistance_verify
ORACLES["dedup_editdistance_verify"] = """
    WITH keyed AS (
        SELECT doc_id, text, lang,
               CAST(length(text) // 4 AS BIGINT) AS band
        FROM documents
    ), blocks AS (
        SELECT lang, band FROM keyed
        GROUP BY lang, band HAVING count(*) BETWEEN 2 AND 40
    )
    SELECT a, b, CAST(dist AS INT) AS dist FROM (
        SELECT x.doc_id AS a, y.doc_id AS b,
               levenshtein(x.text, y.text) AS dist
        FROM keyed x
        JOIN blocks bl ON bl.lang = x.lang AND bl.band = x.band
        JOIN keyed y ON x.lang = y.lang AND x.band = y.band
                    AND x.doc_id < y.doc_id
    ) WHERE dist <= 60
"""


def corpus_mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing schedule via largest-remainder (Hamilton)
    apportionment: a fixed sequence budget is split across languages
    proportionally to their whitespace-token mass — floor quotas
    first, then the leftover sequences go to the largest fractional
    remainders (ties: lang asc). Pure integer arithmetic on both
    engines (quota = (B * tok) DIV T, remainder = (B * tok) % T), so
    the allocation — the thing a training run actually consumes — is
    bit-exact on the gate. One aggregation + one 5-row window: the
    language-grain frame is dimension-sized at any corpus scale."""
    budget = 1_000_000
    from ..functions.text import whitespace_token_count

    toks = (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.sum(whitespace_token_count("text")).cast("bigint").alias("tok")
        )
    )
    tot = toks.agg(F.sum("tok").alias("T"))
    w = Window.orderBy(F.desc("rem"), F.asc("lang"))
    wsum = Window.partitionBy()
    quotas = (
        toks.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "tok",
            F.expr(f"({budget} * tok) DIV T").alias("floor_q"),
            F.expr(f"({budget} * tok) % T").alias("rem"),
        )
    )
    return quotas.select(
        "lang",
        "tok",
        (
            F.col("floor_q")
            + (
                F.row_number().over(w)
                <= F.lit(budget) - F.sum("floor_q").over(wsum)
            ).cast("bigint")
        ).alias("n_seq"),
    )


QUERIES["corpus_mix_schedule"] = corpus_mix_schedule
ORACLES["corpus_mix_schedule"] = r"""
    WITH toks AS (
        SELECT lang,
               CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+')) END)
                    AS BIGINT) AS tok
        FROM documents GROUP BY lang
    ), q AS (
        SELECT lang, tok,
               (1000000 * tok) // (SELECT sum(tok) FROM toks) AS floor_q,
               (1000000 * tok) % (SELECT sum(tok) FROM toks) AS rem
        FROM toks
    )
    SELECT lang, tok,
           CAST(floor_q
                + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang ASC)
                       <= 1000000 - (SELECT sum(floor_q) FROM q)
                       THEN 1 ELSE 0 END AS BIGINT) AS n_seq
    FROM q
"""


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization on the VALUE gate: per
    vector, scale = 127 / max|x| and q_i = trunc(x_i * 127 / maxabs)
    — truncation toward zero spelled EXPLICITLY on both engines
    (Spark double->long cast truncates; DuckDB CAST rounds, so the
    oracle uses trunc()). Emits exact integer digests of the
    quantized vector (sum + index-weighted checksum, so element ORDER
    is covered) plus the scale pinned at e6 fixed point. Zero
    shuffle: scan -> project with higher-order array functions, the
    shape that quantizes a 100 TB embedding store scan-locally."""
    emb = load_table(spark, sf_dir, "embeddings")
    # STAGED projections so maxabs and the quantized array are each
    # computed ONCE per row: inlining maxabs into the transform lambda
    # re-evaluates the O(d) array_max per ELEMENT (O(d²)/row — measured
    # 0.65s vs 0.13s at sf0.1, 5x). CollapseProject keeps the stages
    # separate because the aliased expressions are non-cheap.
    maxabs = "array_max(transform(embedding, x -> abs(cast(x AS double))))"
    s1 = emb.select("vec_id", "embedding", F.expr(maxabs).alias("_ma"))
    s2 = s1.where(F.col("_ma") > 0).select(
        "vec_id",
        F.expr("cast(_ma * 1000000 AS bigint)").alias("maxabs_e6"),
        F.expr(
            "transform(embedding, x -> cast(cast(x AS double) * 127.0D"
            " / _ma AS bigint))"
        ).alias("_q"),
    )
    return s2.select(
        "vec_id",
        "maxabs_e6",
        F.expr("aggregate(_q, cast(0 AS bigint), (acc, v) -> acc + v)").alias(
            "q_sum"
        ),
        F.expr(
            "aggregate(zip_with(_q, sequence(1, size(_q)),"
            " (q, i) -> q * cast(i AS bigint)),"
            " cast(0 AS bigint), (acc, v) -> acc + v)"
        ).alias("q_checksum"),
    )


QUERIES["embedding_quantize_int8"] = embedding_quantize_int8
ORACLES["embedding_quantize_int8"] = """
    WITH m AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        FROM embeddings
    )
    SELECT vec_id,
           CAST(trunc(maxabs * 1000000) AS BIGINT) AS maxabs_e6,
           CAST(list_sum(list_transform(embedding,
                x -> trunc(CAST(x AS DOUBLE) * 127.0 / maxabs)))
                AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(embedding,
                (x, i) -> trunc(CAST(x AS DOUBLE) * 127.0 / maxabs) * i))
                AS BIGINT) AS q_checksum
    FROM m WHERE maxabs > 0
"""
