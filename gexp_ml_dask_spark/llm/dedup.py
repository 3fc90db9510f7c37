"""Deduplication operators (SURVEY.md §2.11, OP-LLM-01/02 —
[mandate], no reference file:line).

Five dedup strategies a training-data pipeline needs, ordered by
cost/recall tradeoff:

  exact        sha2 hash-groupBy              one shuffle, exact
  setsim       one AllPairs kernel for exact  exact near-dup, O(pairs
               Jaccard / containment / tf     sharing a token)
               cosine (setsim_pairs)
  minhash_lsh  MLlib MinHashLSH               approx Jaccard, scales
  simhash      per-doc bit-majority signature one shuffle + equality
                                              (or banded) join
  embedding    cosine over vectors            semantic near-dup

setsim_pairs has three routes (inverted posting join, AllPairs prefix
filter, dense tiled GEMM for cosine) that emit identical rows. It has
no route options: one gate reads the data (a bounded doc count, then
one probe of vocabulary density and the hottest token's doc share)
against the module constants GATE_MIN_DOCS, PROBE_DOCS,
DENSE_MAX_VOCAB, DENSE_MIN_DENSITY and PREFIX_MIN_HOT_SHARE. The
routes are public (setsim_inverted / setsim_prefix / setsim_dense) so
forced twins and parity tests can pin each one.

At 100 TB: exact and simhash are single-shuffle; pair joins need
blocking (LSH band buckets / IVF) — setsim_pairs and the embedding
form take a blocking column for that reason.

Persist lifecycle: the pair-join operators persist their shingle /
posting intermediates (MEMORY_AND_DISK) because BOTH join sides
consume them — without the persist each side re-runs the interpreted
shingle pipeline, measured 2x the whole join cost. The handles live
inside the returned (lazy) plan, so the functions cannot unpersist
eagerly; the release contract is the CALLER's: `df.unpersist()` on
the consumed result's sources or `spark.catalog.clearCache()` when a
batch of dedup queries completes (bench.py does the latter between
queries). Long-lived pipelines that loop over corpora should scope
each iteration with clearCache.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gexp_ml_dask_spark.llm.similarity import cosine_expr


def exact_dedup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """OP-LLM-01 — exact duplicate groups: (text_hash, keep_id, n).
    keep-first = min id per sha256(text). One hash aggregate."""
    return docs.groupBy(F.sha2(F.col(text_col), 256).alias("text_hash")).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n")
    )


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """OP-LLM-01 — the deduplicated table (keep-first semantics)."""
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(id_col)
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def shingles(text_col: str, n: int = 3, sep: str = " ") -> F.Column:
    """Distinct word n-gram shingles of a text column — pure column
    expression (no UDF): slice a token array at every offset.

    NULL-safe: NULL text yields a NULL array (explode drops the doc
    from every inverted index), matching SQL ``unnest(NULL)``
    semantics. Before the guard, split(NULL) fell through
    greatest()/concat_ws() null-swallowing into the shingle set
    {''} — which inverted-joined NULL-text docs against EMPTY-text
    docs as jaccard-1.0 pairs on Spark only (round-7 edge sweep,
    ghost pair found by tools/edge_fixture.py)."""
    toks = F.split(F.col(text_col), sep)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(sep, F.slice(toks, i + 1, n)),
    )
    return F.when(F.col(text_col).isNotNull(), F.array_distinct(grams))


# ---------------------------------------------------------------------
# Exact pair similarity: ONE AllPairs kernel (Bayardo/Ma/Srikant,
# WWW'07) for Jaccard, containment and TF-cosine. A measure is a row
# of MEASURES (token builder, magnitude, score, prefix predicate, pair
# filter); a route (inverted / prefix / dense) is written once and
# serves every measure; setsim_pairs picks the route from the data.
# Every route emits bit-identical rows: the dot is an integer sum (or
# an integer-exact GEMM) and ONE _score rounds and filters it.
# ---------------------------------------------------------------------

# Gate constants (module-level, not options: tests that need a
# boundary monkeypatch them).
GATE_MIN_DOCS = 20_000  # below this the inverted join wins at any shape
PROBE_DOCS = 10_000  # id-contiguous sample the route probe reads
DENSE_MAX_VOCAB = 4_096  # densify memory bound (chunk x vocab doubles)
DENSE_MIN_DENSITY = 0.2  # posting fill fraction that routes to dense
PREFIX_MIN_HOT_SHARE = 0.5  # doc share of the hottest token -> prefix
DENSE_CHUNK = 2_048  # docs per dense tile side
_EPS = 1.0e-6  # round(s, 6) >= t admits s >= t - 5e-7


def _shingle_tokens(d: DataFrame, n: int) -> DataFrame:
    """Distinct n-gram shingles, weight 1, magnitude |A|. The shingle
    array is materialized in its own projection BEFORE the explode:
    writing size(shingles(..)) next to explode(shingles(..)) plans the
    size() above the Generate and re-evaluates the interpreted
    higher-order shingle expression per exploded row (measured 31 s ->
    <2 s at sf0.01). explode_outer + a null filter, not explode: an
    inner explode of the attribute makes the optimizer infer
    size(_shs) > 0 and push it through the projection, evaluating the
    whole shingle expression a second time below any upstream
    repartition, on one core (measured 2 s of 13 at sf0.1)."""
    blk = [c for c in d.columns if c == "_blk"]
    shs = d.select("_id", shingles("_text", n).alias("_shs"), *blk)
    return shs.select(
        "_id",
        F.explode_outer("_shs").alias("_tok"),
        F.lit(1).alias("_w"),
        F.size("_shs").alias("_m"),
        *blk,
    ).filter(F.col("_tok").isNotNull())


def _tf_tokens(d: DataFrame, n: int) -> DataFrame:
    """Space-split terms (empty tokens dropped), weight tf, magnitude
    the L2 norm. The norm table is per DOC, so no broadcast hint: AQE
    picks broadcast-hash only while that side is actually small.
    Docs are hash-partitioned by id BEFORE the explode: the tf and
    norm aggregates and their join then need no further exchange, and
    every posting of a doc lands in one partition, so the inverted
    join's partial aggregate collapses each pair map-side (sf0.1
    inverted route 121-126 s -> 54 s, same session, same rows)."""
    blk = [c for c in d.columns if c == "_blk"]
    tf = (
        d.repartition("_id")
        .select("_id", F.explode(F.split("_text", " ")).alias("_tok"), *blk)
        .filter(F.col("_tok") != "")
        .groupBy("_id", "_tok", *blk)
        .agg(F.count(F.lit(1)).alias("_w"))
    )
    nrm = tf.groupBy("_id").agg(
        F.sqrt(F.sum(F.col("_w") * F.col("_w"))).alias("_m")
    )
    return tf.join(nrm, "_id")


def _set_prefix(suf, m, t):
    # AllPairs set prefix: a partner at >= t must share a token within
    # the first m - floor(t*m) + 1 rarest, i.e. where the suffix count
    # is >= floor(t*m). t is already slackened, so the bound covers
    # the round(., 6) admission band for documents of ANY size.
    return suf >= F.floor(F.lit(t) * m)


class _Measure(NamedTuple):
    tokens: Callable  # (normalized docs, n) -> (_id, _tok, _w, _m[, _blk])
    score: Callable  # (dot, m_a, m_b) -> similarity
    in_prefix: Callable  # (suffix sum of w^2, m, slackened t) -> keep
    pair_ok: Callable  # (alias a, alias b, slackened t) -> candidate ok
    one_sided: bool  # prefix x FULL postings (else prefix x prefix)
    dense: bool  # the tiled-GEMM route applies


def _m(alias: str) -> F.Column:
    return F.col(f"{alias}._m")


MEASURES = {
    # J = |A∩B| / (|A|+|B|-|A∩B|). Size filter: J <= min/max, so a
    # qualifying pair has min(|A|,|B|) >= t * max(|A|,|B|).
    "jaccard": _Measure(
        _shingle_tokens,
        lambda dot, a, b: dot / (a + b - dot),
        _set_prefix,
        lambda a, b, t: F.least(_m(a), _m(b)) >= t * F.greatest(_m(a), _m(b)),
        one_sided=False,
        dense=False,
    ),
    # Overlap coefficient |A∩B| / min(|A|,|B|): flags near-SUBSET
    # duplicates (quote inclusion, boilerplate wrapping) that Jaccard
    # under-scores. One-sided bound: the overlap needs >= t*|S| of the
    # SMALLER set S, so S's own-size prefix must meet the other doc's
    # FULL postings — hence the size orientation as the pair filter.
    "containment": _Measure(
        _shingle_tokens,
        lambda dot, a, b: dot / F.least(a, b),
        _set_prefix,
        lambda a, b, t: _m(a) <= _m(b),
        one_sided=True,
        dense=False,
    ),
    # tf cosine. L2 prefix: with a global rarest-first order and s(i)
    # the L2 mass of a unit vector from position i on, Cauchy-Schwarz
    # at the FIRST shared term w gives cos <= s_a(w) * s_b(w) <= s(w),
    # so w lies in both prefixes {i : s(i) >= t} and the prefix x
    # prefix join is lossless. The pair filter is the PPJoin-style
    # positional bound at that w, in squared masses and loosened to
    # s_a(w)^2 s_b(w)^2 >= t^4 (<= t^2): it prunes only duplicate
    # candidate edges, never a pair's first-shared-term edge. The 1e-9
    # terms cover float accumulation.
    "cosine": _Measure(
        _tf_tokens,
        lambda dot, a, b: dot / (a * b),
        lambda suf, m, t: suf >= (t * t - 1.0e-9) * m * m,
        lambda a, b, t: F.col(f"{a}._suf") * F.col(f"{b}._suf")
        >= (t**4 - 1.0e-9) * _m(a) * _m(a) * _m(b) * _m(b),
        one_sided=False,
        dense=True,
    ),
}


def _tokens(docs, measure, n, id_col, text_col, block_col) -> DataFrame:
    """The measure's (doc, token, weight, magnitude) postings,
    persisted MEMORY_AND_DISK: both join sides consume them, and
    without the persist each side re-runs the scan + tokenizer
    (measured 2x the whole join cost at sf0.1; release contract in
    the module docstring)."""
    from pyspark.storagelevel import StorageLevel

    d = docs.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_text"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
    )
    return MEASURES[measure].tokens(d, n).persist(StorageLevel.MEMORY_AND_DISK)


def _score(pairs: DataFrame, measure: str, threshold: float) -> DataFrame:
    """(id_a, id_b, _ma, _mb, _dot) -> (id_a, id_b, <measure>) rows
    with round(score, 6) >= threshold — the ONE admission rule every
    route shares, so cross-route parity is structural."""
    s = MEASURES[measure].score(F.col("_dot"), F.col("_ma"), F.col("_mb"))
    return (
        pairs.withColumn(measure, F.round(s, 6))
        .filter(F.col(measure) >= threshold)
        .select("id_a", "id_b", measure)
    )


def _side(tok: DataFrame, s: str) -> DataFrame:
    """One side of a pair join: id_<s>, _tok, _m<s>, _w<s>[, _blk]."""
    return tok.withColumnsRenamed(
        {"_id": f"id_{s}", "_m": f"_m{s}", "_w": f"_w{s}"}
    )


def _dot_pairs(joined: DataFrame) -> DataFrame:
    # Keyed on the ids only; max() carries the per-id magnitudes.
    # Keying on them too hashes two more fields per joined row
    # (measured 6-7% of a hot-vocabulary cosine join). Not first():
    # it is nondeterministic, which stops Spark reusing the pair
    # table's exchanges when a caller joins it to itself.
    return joined.groupBy("id_a", "id_b").agg(
        F.sum(F.col("_wa") * F.col("_wb")).alias("_dot"),
        F.max("_ma").alias("_ma"),
        F.max("_mb").alias("_mb"),
    )


def setsim_inverted(
    docs: DataFrame,
    measure: str,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
) -> DataFrame:
    """Inverted route: posting self-join, then sum(w_a * w_b) per
    pair — only pairs sharing a token ever materialize. Cost is the
    sum over tokens of df(token)^2: one hot token fans out
    quadratically. Measured alternative, rejected: a posting-list
    collect_list + row-local pair explode produced the identical pairs
    2x SLOWER at sf0.1 (interpreted higher-order functions vs a
    codegen shuffle join)."""
    tok = _tokens(docs, measure, n, id_col, text_col, block_col)
    on = ["_tok", "_blk"] if block_col else ["_tok"]
    joined = _side(tok, "a").join(_side(tok, "b"), on)
    pairs = joined.filter(F.col("id_a") < F.col("id_b"))
    return _score(_dot_pairs(pairs), measure, threshold)


def setsim_prefix(
    docs: DataFrame,
    measure: str,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
) -> DataFrame:
    """Prefix route (AllPairs): order each doc's tokens rarest-first
    by one global document frequency, keep the prefix the measure's
    bound says any qualifying partner must meet, join prefixes into
    candidates, then verify each candidate exactly. Recall is 1.0 by
    theorem, not by probability; hot tokens land in the suffix and
    never enter the index. Blocking composes: the order stays global
    (any single total order preserves the bound).

    The prefix keeps positions whose suffix mass (sum of w^2 from the
    position to the end) clears the measure's bound; it is a running
    sum in DESCENDING order, so the window frame is O(len) per doc.
    Bounds use t - 1e-6, covering the round(s, 6) >= t band.

    Measured (BASELINE.md): 58.0 -> 11.8 s for Jaccard on a
    hot-header corpus and 82.5 -> 3.8 s for TF-cosine on a Zipf
    fixture; on a corpus whose docs all share one tiny vocabulary
    every lossless sparse filter stays ~quadratic and the inverted
    join (or, for cosine, the dense route) wins."""
    m = MEASURES[measure]
    t = threshold - _EPS
    tok = _tokens(docs, measure, n, id_col, text_col, block_col)
    w = (
        Window.partitionBy("_id")
        .orderBy(F.desc("_df"), F.desc("_tok"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sq = F.col("_w").cast("double") * F.col("_w")
    # Document frequency as a window over the token: one exchange of
    # the postings, where a frequency aggregate joined back costs two.
    by_tok = Window.partitionBy("_tok")
    prefix = (
        tok.withColumn("_df", F.count(F.lit(1)).over(by_tok))
        .withColumn("_suf", F.sum(sq).over(w))
        .filter(m.in_prefix(F.col("_suf"), F.col("_m"), t))
    )
    p, f = prefix.alias("p"), (tok if m.one_sided else prefix).alias("f")
    on = (F.col("p._tok") == F.col("f._tok")) & m.pair_ok("p", "f", t)
    if block_col:
        on = on & (F.col("p._blk") == F.col("f._blk"))
    order = (
        F.col("p._id") != F.col("f._id")
        if m.one_sided
        else F.col("p._id") < F.col("f._id")
    )
    cand = (
        p.join(f, on & order)
        .select(
            F.least("p._id", "f._id").alias("id_a"),
            F.greatest("p._id", "f._id").alias("id_b"),
        )
        .distinct()
    )
    joined = cand.join(_side(tok, "a"), "id_a").join(
        _side(tok, "b").drop("_blk"), ["id_b", "_tok"]
    )
    return _score(_dot_pairs(joined), measure, threshold)


def setsim_dense(
    docs: DataFrame,
    measure: str,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
) -> DataFrame:
    """Dense route (cosine only): the exact pair set as a tiled dense
    matrix product, for the regime where every lossless sparse filter
    degenerates — a tiny shared vocabulary makes candidates ~quadratic
    (BASELINE.md dense-corpus note). Sign-LSH was measured and
    rejected for it: on all-positive tf vectors it needs ~25% of ALL
    pairs as candidates for 95% recall, because the collision S-curve
    between cosine 0.62 and 0.9 is flat on the positive orthant. A
    lossless GEMM does the same quadratic work at BLAS constants and
    keeps recall 1.0, so the route stays value-oracled.

    Plan: (1) a bounded vocabulary index — more than DENSE_MAX_VOCAB
    distinct terms raises ValueError (the corpus is sparse; the gate
    falls back); (2) per-doc sparse vectors in doc_id-contiguous
    chunks of DENSE_CHUNK via the distributed global_rank (no
    partitionless window); (3) EXACT tile pruning by two intersected
    bounds on driver-sized chunk x vocab stats: the spherical triangle
    inequality (angle(a,b) >= angle(c_i,c_j) - r_i - r_j) and the
    nonnegativity bound cos(a,b) <= sum_t maxw_it * maxw_jt, which
    kills vocabulary-disjoint tiles wide radii let through; (4)
    surviving tiles -> applyInPandas integer-exact GEMM emitting a
    slack superset with the Spark-side norms; (5) the shared _score
    rounds and filters, so admission is bit-identical to the sparse
    routes.

    Scale: exact dense similarity is O(n^2 V) work on any engine; the
    tiles are embarrassingly parallel (no shuffle after chunking) and
    block-pure chunks prune every cross-block tile (BASELINE.md
    Round-7, sf1). Past ~10^4 chunks the quadratic is intrinsic and
    the approximate family (embedding LSH/IVF) is the honest tool."""
    import numpy as np
    import pandas as pd

    from gexp_ml_dask_spark.operators.sorts import global_rank

    if not MEASURES[measure].dense or block_col:
        raise ValueError(f"dense route serves unblocked cosine, not {measure}")
    spark = docs.sparkSession
    tok = _tokens(docs, measure, n, id_col, text_col, None)
    # One bounded collect both checks the densify bound and fetches
    # the vocabulary (nothing vocab-sized reaches the driver past it).
    distinct = tok.select("_tok").distinct().limit(DENSE_MAX_VOCAB + 1)
    terms = sorted(r[0] for r in distinct.collect())
    if len(terms) > DENSE_MAX_VOCAB:
        tok.unpersist()
        raise ValueError(
            f"setsim_dense: vocabulary exceeds {DENSE_MAX_VOCAB} terms; "
            "this corpus is sparse"
        )
    V = len(terms)
    vocab = spark.createDataFrame(
        list(zip(terms, range(V))), "_tok string, tid int"
    )
    tfj = tok.join(F.broadcast(vocab), "_tok")
    docvec = (
        tfj.groupBy("_id")
        .agg(
            F.collect_list(F.struct("tid", "_w")).alias("_p"),
            F.first("_m").alias("_m"),
        )
        .select(
            "_id",
            F.col("_p.tid").alias("tids"),
            F.col("_p._w").alias("tfs"),
            "_m",
        )
    )
    ranked = global_rank(docvec, "_id", "_id", out_col="_rank")
    docvec = ranked.withColumn(
        "chunk_id", F.floor((F.col("_rank") - 1) / DENSE_CHUNK).cast("int")
    ).drop("_rank").persist()

    # Chunk geometry: unit-weight centroid sums and max weights per
    # (chunk, tid), then each chunk's min cosine to its own centroid
    # (= max angular radius). Two collects read `unit`, so it persists.
    unit = (
        tfj.join(docvec.select("_id", "chunk_id"), "_id")
        .select(
            "_id", "chunk_id", "tid", (F.col("_w") / F.col("_m")).alias("_u")
        )
        .persist()
    )
    cpdf = (
        unit.groupBy("chunk_id", "tid")
        .agg(F.sum("_u").alias("_s"), F.max("_u").alias("_mx"))
        .toPandas()
    )
    k = int(cpdf["chunk_id"].max()) + 1 if len(cpdf) else 0
    ci, ti = cpdf["chunk_id"].to_numpy(), cpdf["tid"].to_numpy()
    C, Mx = np.zeros((k, V)), np.zeros((k, V))
    C[ci, ti], Mx[ci, ti] = cpdf["_s"].to_numpy(), cpdf["_mx"].to_numpy()
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = 1.0
    Cu = C / cn[:, None]
    cen = spark.createDataFrame(
        pd.DataFrame({"chunk_id": ci, "tid": ti, "_c": cpdf["_s"] / cn[ci]})
    )
    mincos = (
        unit.join(cen, ["chunk_id", "tid"])
        .groupBy("_id", "chunk_id")
        .agg(F.sum(F.col("_u") * F.col("_c")).alias("_cos"))
        .groupBy("chunk_id")
        .agg(F.min("_cos").alias("_min_cos"))
        .toPandas()
    )
    unit.unpersist()
    radius = np.zeros(k)
    radius[mincos["chunk_id"].to_numpy()] = np.arccos(
        np.clip(mincos["_min_cos"].to_numpy(), -1.0, 1.0)
    )
    theta = np.arccos(np.clip(Cu @ Cu.T, -1.0, 1.0))
    best = np.cos(np.maximum(0.0, theta - radius[:, None] - radius[None, :]))
    best = np.minimum(best, Mx @ Mx.T)
    tt = threshold - _EPS
    ii, jj = np.where(np.triu(best >= tt))
    tiles = spark.createDataFrame(
        pd.DataFrame({"ci": ii, "cj": jj}).astype("int32")
    )

    cols = ["ci", "cj", "role", "_id", "tids", "tfs", "_m"]
    a_side = tiles.join(docvec, docvec["chunk_id"] == tiles["ci"]).withColumn(
        "role", F.lit("a")
    )
    b_side = (
        tiles.filter(F.col("ci") != F.col("cj"))
        .join(docvec, docvec["chunk_id"] == tiles["cj"])
        .withColumn("role", F.lit("b"))
    )
    data = a_side.select(cols).unionByName(b_side.select(cols))

    def _tile(pdf: pd.DataFrame) -> pd.DataFrame:
        def flatten(part: pd.DataFrame):
            nnz = np.fromiter((len(t) for t in part["tids"]), dtype=np.int64)
            rows = np.repeat(np.arange(len(part)), nnz)
            tids = np.concatenate([np.asarray(t) for t in part["tids"]])
            tfs = np.concatenate([np.asarray(t) for t in part["tfs"]])
            return rows, tids.astype(np.int64), tfs.astype(np.float64)

        diag = bool((pdf["ci"] == pdf["cj"]).iloc[0])
        a = pdf[pdf["role"] == "a"]
        b = a if diag else pdf[pdf["role"] == "b"]
        if not len(a) or not len(b):
            return pd.DataFrame(columns=["id_a", "id_b", "_ma", "_mb", "_dot"])
        ra_, ta_, fa_ = flatten(a)
        rb_, tb_, fb_ = (ra_, ta_, fa_) if diag else flatten(b)
        # Densify over the tile's OWN vocabulary: a block-pure tile
        # touches only its block's terms (10x smaller at sf1).
        local, inv = np.unique(np.concatenate([ta_, tb_]), return_inverse=True)
        ida, na = a["_id"].to_numpy(), a["_m"].to_numpy()
        idb, nb = b["_id"].to_numpy(), b["_m"].to_numpy()
        # float32 GEMM is exact when Cauchy-Schwarz bounds every
        # integer dot below 2^24; float64 is exact below 2^53.
        exact32 = float(na.max()) * float(nb.max()) < 2**24
        dt = np.float32 if exact32 else np.float64
        A = np.zeros((len(a), len(local)), dtype=dt)
        A[ra_, inv[: len(ta_)]] = fa_
        B = A
        if not diag:
            B = np.zeros((len(b), len(local)), dtype=dt)
            B[rb_, inv[len(ta_):]] = fb_
        D = (A @ B.T).astype(np.float64)
        mask = D / np.outer(na, nb) >= tt
        if diag:
            mask &= ida[:, None] < idb[None, :]
        # chunks are doc_id-contiguous and tiles have ci <= cj, so the
        # a-side id is always the smaller one
        ri, rj = np.where(mask)
        return pd.DataFrame(
            {"id_a": ida[ri], "id_b": idb[rj], "_ma": na[ri], "_mb": nb[rj],
             "_dot": D[ri, rj]}
        )

    dot = data.groupBy("ci", "cj").applyInPandas(
        _tile,
        schema="id_a long, id_b long, _ma double, _mb double, _dot double",
    )
    return _score(dot, measure, threshold)


def _probe(docs, measure, n, id_col, text_col) -> dict:
    """One bounded job over the PROBE_DOCS lowest-id docs, on the
    measure's own tokens: vocabulary, posting density (the nonzero
    fraction of the doc x token matrix) and the hottest token's doc
    share. The sample is an id-CONTIGUOUS range (TakeOrderedAndProject,
    no global sort), not an arbitrary LIMIT: density is a neighborhood
    property, and a partition sample of a multi-source corpus mixes
    disjoint vocabularies (measured on the sf1 fixture: 10 dense
    blocks probe at 0.075 under LIMIT, 0.37 id-contiguous)."""
    sample = docs.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
    )
    tok = MEASURES[measure].tokens(
        sample.orderBy("_id").limit(PROBE_DOCS), n
    )
    per_tok = tok.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    r = (
        per_tok.agg(
            F.count(F.lit(1)).alias("vocab"),
            F.sum("_df").alias("postings"),
            F.max("_df").alias("max_df"),
        )
        .crossJoin(tok.agg(F.countDistinct("_id").alias("docs")))
        .first()
    )
    docs_n, vocab = r["docs"], r["vocab"]
    if not docs_n:
        return {"vocab": 0, "density": 0.0, "hot_share": 0.0}
    return {
        "vocab": vocab,
        "density": r["postings"] / (vocab * docs_n),
        "hot_share": r["max_df"] / docs_n,
    }


def setsim_pairs(
    docs: DataFrame,
    measure: str,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
) -> DataFrame:
    """OP-LLM-02 exact pair similarity: rows (id_a, id_b, <measure>)
    with id_a < id_b and round(score, 6) >= threshold, for ``measure``
    in MEASURES — ``jaccard`` and ``containment`` over distinct word
    ``n``-gram shingles, ``cosine`` over term frequencies.
    ``block_col`` restricts pairs to equal blocking keys (an LSH band
    or source partition — at 100 TB the unblocked index fans out
    quadratically on hot tokens).

    The route is chosen from the data alone; every route emits the
    identical rows, so a misroute costs time, never results:

    1. a bounded ``limit(GATE_MIN_DOCS).count()`` — below it, inverted
       (at that size the inverted join finishes in seconds at any
       shape, and a probe would dominate);
    2. otherwise one probe over the PROBE_DOCS lowest-id docs: cosine
       with vocab <= DENSE_MAX_VOCAB and density >= DENSE_MIN_DENSITY
       goes dense (the dense bench corpus probes at 0.97 / 31 terms);
       if the full vocabulary then exceeds the densify bound, the gate
       falls through to the sparse rule;
    3. the hottest token in >= PREFIX_MIN_HOT_SHARE of the sample ->
       prefix (hot-header and Zipf fixtures probe at 1.0; sf0.1
       documents trigrams at 0.005, where inverted wins 3.1 vs 7.4 s
       warm; the crossover in between is unmeasured); else inverted.
    """
    m = MEASURES[measure]
    args = (docs, measure, threshold, n, id_col, text_col, block_col)
    if docs.select(id_col).limit(GATE_MIN_DOCS).count() < GATE_MIN_DOCS:
        return setsim_inverted(*args)
    s = _probe(docs, measure, n, id_col, text_col)
    dense = s["vocab"] <= DENSE_MAX_VOCAB and s["density"] >= DENSE_MIN_DENSITY
    if m.dense and block_col is None and dense:
        try:
            return setsim_dense(*args)
        except ValueError:
            pass  # the sample was dense but the full vocabulary is not
    if s["hot_share"] >= PREFIX_MIN_HOT_SHARE:
        return setsim_prefix(*args)
    return setsim_inverted(*args)


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = 24,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Seeded MinHash signatures as a pure column expression. No
    UDFs, no fitted model to ship — every executor derives the same
    hash family from the seed.

    ``hasher``:
      * ``xxhash64`` (scale default): signature[i] = min over
        shingles of xxhash64(seed, i, shingle).
      * ``md5_32``: Kirsch-Mitzenmacher double hashing over the two
        leading 32-bit words of md5(shingle ':seed') —
        signature[i] = min(h1 + (i+1)*h2). Slower than xxhash64 but
        reproducible in any SQL engine (DuckDB hex-casts the same
        md5 substrings), so signatures AND the banded pair set are
        oracle-checkable bit-for-bit. Values stay < 2^37, safely
        inside BIGINT under ANSI overflow checks.
    """
    # Long form + statically-unrolled hash columns, NOT nested
    # higher-order functions: lambda-variable expressions evaluate
    # interpreted (outside whole-stage codegen), which measured ~10x
    # slower (31s vs 3s at sf0.1). Exploding to (doc, shingle) rows
    # and taking n_hashes codegen'd mins in ONE partial-aggregating
    # shuffle keeps everything in Tungsten.
    exploded = docs.select(
        F.col(id_col), F.explode(shingles(text_col, shingle_n)).alias("_s")
    )
    if hasher == "md5_32":
        md5 = F.md5(F.concat(F.col("_s"), F.lit(f":{seed}")))
        exploded = exploded.select(
            F.col(id_col),
            F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("_h1"),
            F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("_h2"),
        )
        hash_i = [
            F.col("_h1") + F.lit(i + 1) * F.col("_h2") for i in range(n_hashes)
        ]
    elif hasher == "xxhash64":
        hash_i = [
            F.xxhash64(F.lit(seed), F.lit(i), F.col("_s"))
            for i in range(n_hashes)
        ]
    else:
        raise ValueError(f"unknown hasher: {hasher}")
    mins = exploded.groupBy(id_col).agg(
        *[F.min(h).alias(f"_h{i}") for i, h in enumerate(hash_i)]
    )
    return mins.select(
        F.col(id_col),
        F.array(*[F.col(f"_h{i}") for i in range(n_hashes)]).alias("signature"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    n_bands: int = 8,
    rows_per_band: int = 3,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    max_bucket: int = 500,
    hasher: str = "xxhash64",
) -> DataFrame:
    """OP-LLM-02 (MinHash-LSH) — approximate Jaccard near-dup pairs,
    banded: signature split into ``n_bands`` bands of
    ``rows_per_band`` hashes; docs agreeing on any whole band are
    candidates; estimated Jaccard = matching-minhash fraction,
    filtered at ``threshold``. (S-curve midpoint ≈ (1/b)^(1/r); the
    8×3 default centers near 0.5.)

    Skew guard — the reason this is hand-rolled rather than MLlib's
    ``MinHashLSH.approxSimilarityJoin``: a corpus with a large
    near-identical cluster puts every member in ONE band bucket, and
    a join on band keys then builds the cluster's quadratic pair
    blowup in a single task (observed: 5k docs -> one 20-minute
    single-threaded task). Buckets larger than ``max_bucket`` are
    dropped with their size surfaced in a warning; clusters that big
    are exact-dup-shaped and belong to the hash-groupBy pass
    (OP-LLM-01), not pairwise LSH.
    """
    sigs = minhash_signatures(
        docs, n_bands * rows_per_band, shingle_n, id_col, text_col, seed, hasher
    ).persist()

    # Band key: xxhash64 of the band slice on the scale path (fixed
    # 8-byte shuffle key); the raw slice itself on the md5 path so
    # the SQL oracle can reproduce the bucketing without xxhash64.
    def band_key(b: F.Column) -> F.Column:
        sl = F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)
        return F.xxhash64(sl) if hasher == "xxhash64" else sl

    bands = sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"), band_key(b).alias("band_hash")
                ),
            )
        ).alias("_b"),
    ).select(id_col, "_b.band_id", "_b.band_hash")

    # Bucketize, cap, and emit pairs WITHIN a row (so a hot bucket
    # never concentrates a join task), then repartition the pairs.
    buckets = bands.groupBy("band_id", "band_hash").agg(
        F.sort_array(F.collect_set(id_col)).alias("_members")
    )
    capped = buckets.filter(
        (F.size("_members") >= 2) & (F.size("_members") <= max_bucket)
    )
    pairs = (
        capped.select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            F.col("_members"),
                            lambda a: F.transform(
                                F.col("_members"),
                                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                            ),
                        )
                    ),
                    lambda p: p["id_a"] < p["id_b"],
                )
            ).alias("_p")
        )
        .select("_p.id_a", "_p.id_b")
        .distinct()
    )

    a = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("_sa"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("_sb"))
    est = F.aggregate(
        F.zip_with(
            F.col("_sa"), F.col("_sb"), lambda x, y: (x == y).cast("int")
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(n_bands * rows_per_band))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard_est", F.round(est, 6))
        .filter(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )


def simhash_signatures(
    docs: DataFrame,
    bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    hasher: str = "xxhash64",
) -> DataFrame:
    """OP-LLM-02 (SimHash) — per-doc bit-majority signature over
    token hashes: explode tokens, hash, per-bit ±1 sums, pack.
    One shuffle (the groupBy); the 32 bit-sums are one aggregate row.
    32 bits dodges BIGINT sign wrangling; collisions only shortlist
    candidates, a verify pass decides.

    ``hasher``: ``xxhash64`` (JVM-native, the scale default) or
    ``md5_32`` (leading 32 bits of md5 — slower, but reproducible in
    any SQL engine, so signatures are oracle-checkable)."""
    if hasher == "md5_32":
        h = F.conv(F.substring(F.md5(F.col("_t")), 1, 8), 16, 10).cast("long")
    elif hasher == "xxhash64":
        h = F.xxhash64("_t")
    else:
        raise ValueError(f"unknown hasher: {hasher}")
    tok = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("_t")
    ).withColumn("_h", h)
    bit_sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"_b{i}")
            for i in range(bits)
        ]
    )
    sig = None
    for i in range(bits):
        term = F.when(F.col(f"_b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return bit_sums.select(F.col(id_col), sig.cast("long").alias("simhash"))


def simhash_dup_groups(
    docs: DataFrame,
    bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    hasher: str = "xxhash64",
) -> DataFrame:
    """SimHash-identical groups (hamming-0 candidates). Near-hamming
    pairs are :func:`simhash_neardup_pairs`."""
    sigs = simhash_signatures(docs, bits, id_col, text_col, hasher)
    return sigs.groupBy("simhash").agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n")
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    n_bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hasher: str = "xxhash64",
) -> DataFrame:
    """OP-LLM-02 (SimHash near-dup) — pairs with hamming(sig_a,
    sig_b) <= ``max_hamming``, banded so no all-pairs join ever
    forms.

    Pigeonhole recall guarantee: the signature splits into
    ``n_bands`` equal bit-bands; two signatures within hamming
    distance d < n_bands must agree EXACTLY on at least one band, so
    a candidate join on (band_id, band_value) has 100% recall for
    d <= n_bands - 1 (the default 4 bands / hamming 3 is exact, not
    approximate). Verification is one codegen expression —
    ``bit_count(a XOR b)`` — per candidate pair. Everything shuffles
    on band values (bounded fan-out) and the verify join is by doc
    id; at 100 TB the candidate stage is the same shape as the
    MinHash band join, with the same hot-bucket cap available if a
    degenerate corpus needs it.
    """
    if bits % n_bands:
        raise ValueError("bits must divide evenly into n_bands")
    band_width = bits // n_bands
    mask = (1 << band_width) - 1
    sigs = simhash_signatures(docs, bits, id_col, text_col, hasher)

    bands = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_id"),
                        F.shiftright(F.col("simhash"), k * band_width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for k in range(n_bands)
                ]
            )
        ).alias("_b"),
    ).select(id_col, "_b.band_id", "_b.band_val")

    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )

    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("_sa"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("_sb"))
    hamming = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("long")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def duplicate_ngram_spans(
    docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """OP-LLM-02 (duplicated n-gram spans) — token-level
    exact-substring dedup signal, the "repeated n-gram" family from
    training-data curation (cf. Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): for every document,
    how much of it is covered by token ``n``-grams that also occur in
    at least one OTHER document.

    Returns one row per document:
    (doc_id, n_tokens, n_dup_ngrams, n_dup_tokens, dup_token_ratio).

    Plan shape (three shuffles, all on well-spread keys):
      1. row-local positional n-grams via one posexplode (no
         self-join to build grams — transform over sequence);
      2. cross-document duplication flag via min/max(doc_id) window
         over the gram — ONE shuffle on the gram string, no distinct
         count, no second scan of the postings;
      3. per-doc union-of-intervals sweep: max(end) over preceding
         rows (shuffle on doc_id), then the per-doc groupBy reuses
         that partitioning (no extra shuffle).
    At 100 TB the gram-window shuffle dominates; hot grams (stock
    phrases) are bounded because the window only reduces to two
    BIGINTs per gram, and AQE skew-split handles residual imbalance.
    A fixed-width variant would shuffle xxhash64(gram) instead of the
    string — kept exact here so the SQL oracle replays it verbatim.
    """
    toks = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col),
        toks.alias("_t"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    gram_positions = F.when(
        F.col("n_tokens") >= n,
        F.sequence(F.lit(1), (F.col("n_tokens") - (n - 1)).cast("int")),
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.explode(
            F.transform(
                gram_positions,
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    F.concat_ws(" ", F.slice("_t", i, n)).alias("gram"),
                ),
            )
        ).alias("_g"),
    ).select(id_col, "n_tokens", "_g.pos", "_g.gram")

    wg = Window.partitionBy("gram")
    dup = (
        grams.withColumn("_mn", F.min(id_col).over(wg))
        .withColumn("_mx", F.max(id_col).over(wg))
        .filter(F.col("_mn") != F.col("_mx"))
        .select(id_col, "n_tokens", "pos", (F.col("pos") + (n - 1)).alias("_end"))
    )

    ws = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    swept = dup.withColumn("_prev_end", F.max("_end").over(ws)).withColumn(
        "_covered",
        F.greatest(
            F.lit(0).cast("long"),
            F.col("_end")
            - F.greatest(
                F.col("pos") - 1, F.coalesce(F.col("_prev_end"), F.col("pos") - 1)
            ),
        ),
    )
    per_doc = swept.groupBy(id_col, "n_tokens").agg(
        F.count(F.lit(1)).alias("n_dup_ngrams"),
        F.sum("_covered").alias("n_dup_tokens"),
    )

    return (
        base.select(id_col, "n_tokens")
        .join(per_doc.drop("n_tokens"), id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.coalesce("n_dup_ngrams", F.lit(0)).cast("long").alias("n_dup_ngrams"),
            F.coalesce("n_dup_tokens", F.lit(0)).cast("long").alias("n_dup_tokens"),
            F.round(
                F.coalesce("n_dup_tokens", F.lit(0))
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("dup_token_ratio"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """OP-LLM-02 (duplicated-span REMOVAL) — the cleaned-corpus twin
    of :func:`duplicate_ngram_spans`: actually CUT the repeated
    substrings out of each document instead of only scoring coverage
    (the "remove all but one occurrence" step of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better").

    Deterministic keep rule: a token range covered by a
    cross-document duplicated ``n``-gram is removed from every
    document EXCEPT the canonical one (the minimum ``id_col`` that
    contains the gram), which keeps its copy — so every duplicated
    span survives exactly once corpus-wide and the rule needs no
    tie-breaking randomness.

    Returns one row per document:
    (doc_id, text_clean, n_tokens, n_removed_tokens).

    Plan shape (the gram-window shuffle dominates, same as the spans
    signal): positional n-grams via one row-local posexplode; ONE
    window shuffle on the gram string reduces each gram to two
    BIGINTs (min/max owner); removal intervals collapse per doc into
    a bounded array (list length <= doc token count); the rebuild is
    a JVM higher-order filter over the token array — no Python, no
    second pass over the grams.

    Token-semantics contract (round-7 edge sweep): NULL-text docs
    have no tokens to clean and are excluded, like every other
    token/shingle operator.
    """
    docs = docs.filter(F.col(text_col).isNotNull())
    toks = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col),
        toks.alias("_t"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    gram_positions = F.when(
        F.col("n_tokens") >= n,
        F.sequence(F.lit(1), (F.col("n_tokens") - (n - 1)).cast("int")),
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        F.col(id_col),
        F.explode(
            F.transform(
                gram_positions,
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    F.concat_ws(" ", F.slice("_t", i, n)).alias("gram"),
                ),
            )
        ).alias("_g"),
    ).select(id_col, "_g.pos", "_g.gram")

    wg = Window.partitionBy("gram")
    removal = (
        grams.withColumn("_mn", F.min(id_col).over(wg))
        .withColumn("_mx", F.max(id_col).over(wg))
        .filter(
            (F.col("_mn") != F.col("_mx")) & (F.col(id_col) != F.col("_mn"))
        )
        .select(
            id_col,
            F.col("pos").alias("s"),
            (F.col("pos") + (n - 1)).alias("e"),
        )
    )
    intervals = removal.groupBy(id_col).agg(
        F.collect_list(F.struct("s", "e")).alias("_ivs")
    )

    joined = base.join(intervals, id_col, "left").withColumn(
        "_ivs",
        F.coalesce(
            "_ivs", F.array().cast("array<struct<s:bigint,e:bigint>>")
        ),
    )
    # Rebuild via position-set difference, not a nested exists scan:
    # covered positions flatten to <= n_tokens values, array_except
    # hashes them once, so the row-local cost is O(n_tokens) instead
    # of O(n_tokens * n_intervals) for boilerplate-heavy documents.
    covered = F.array_distinct(
        F.flatten(
            F.transform("_ivs", lambda iv: F.sequence(iv["s"], iv["e"]))
        )
    )
    kept_pos = F.array_sort(
        F.array_except(
            F.sequence(F.lit(1).cast("long"), F.col("n_tokens")), covered
        )
    )
    kept = F.transform(kept_pos, lambda p: F.element_at("_t", p.cast("int")))
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("text_clean"),
        F.col("n_tokens"),
        (F.col("n_tokens") - F.size(kept)).cast("long").alias(
            "n_removed_tokens"
        ),
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """OP-LLM-02 (benchmark decontamination) — flag training documents
    that share any token ``n``-gram with a held-out evaluation set
    (the standard train/test contamination check run before LLM
    training; GPT-3-style n-gram overlap, typically n=8..13).

    Returns one row per training document:
    (doc_id, n_contaminated_ngrams, is_contaminated).

    Plan shape: the eval side reduces to DISTINCT n-grams first —
    at 100 TB the eval set is benchmark-sized (MBs), so its distinct
    gram table broadcasts and the training side is ONE scan + explode
    + broadcast semi-probe + per-doc hash agg; no shuffle ever
    carries the training grams. ``broadcast_eval=True`` (default)
    FORCES the broadcast with an explicit hint — Catalyst honors the
    hint regardless of size, so for an unusually large eval corpus
    pass ``broadcast_eval=False`` to let the planner pick (it falls
    back to a shuffled hash join on the gram key — same semantics,
    still one pass over training).

    Consumers that only need the CONTAMINATED ids (the curation
    plans' anti-join probe) should call :func:`contamination_hits`
    directly — it is this operator minus the final left join that
    re-attaches zero-hit documents (round 9: that join shuffled the
    whole training id column per run just to produce rows a
    downstream ``filter(is_contaminated)`` dropped again).
    """
    hits = contamination_hits(
        docs, eval_docs, n, id_col, text_col, broadcast_eval
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_contaminated_ngrams", F.lit(0))
            .cast("long")
            .alias("n_contaminated_ngrams"),
            (F.coalesce("n_contaminated_ngrams", F.lit(0)) > 0).alias(
                "is_contaminated"
            ),
        )
    )


def contamination_hits(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """The contaminated subset only: (doc_id, n_contaminated_ngrams)
    for every training document sharing >= 1 token n-gram with the
    eval set — :func:`decontaminate` without the zero-hit re-attach
    join (every returned row has a positive count by construction).
    Same plan shape: eval reduces to distinct grams (broadcast by
    default), training pays one scan + explode + probe + per-doc
    agg.

    Precondition: doc ids are UNIQUE. The result has one row per
    contaminated id, its count summed over every document carrying
    that id, so it equals ``decontaminate(...).filter(is_contaminated)``
    only when ids are unique (decontaminate emits one row per input
    document)."""
    def doc_grams(df: DataFrame, keep_pos: bool) -> DataFrame:
        toks = F.split(F.col(text_col), " ")
        base = df.select(
            F.col(id_col), toks.alias("_t"), F.size(toks).alias("_nt")
        )
        positions = F.when(
            F.col("_nt") >= n, F.sequence(F.lit(1), F.col("_nt") - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        gram = base.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    positions, lambda i: F.concat_ws(" ", F.slice("_t", i, n))
                )
            ).alias("gram"),
        )
        return gram if keep_pos else gram.select("gram").distinct()

    eval_grams = doc_grams(eval_docs, keep_pos=False)
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    return (
        doc_grams(docs, keep_pos=True)
        .join(eval_grams, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    method: str = "lsh",
    n_planes: int = 4,
    n_tables: int = 2,
    dim: int = 64,
    seed: int = 42,
    family: str = "xxhash64",
) -> DataFrame:
    """OP-LLM-02 (embedding cosine) — semantic near-dup pairs with
    rounded cosine >= threshold.

    Methods (the scale-safe one is the DEFAULT; brute is opt-in):

    * ``method='lsh'`` (default): sign-LSH blocking — each vector is
      bucketed by ``n_tables`` independent seeded hyperplane families
      (see :func:`~gexp_ml_dask_spark.llm.similarity.hyperplane_buckets`);
      pairs colliding in ANY table are candidates (union, dedup BEFORE
      the cosine kernel), then verified with the exact cosine. The
      candidate join is an EQUI-join on the bucket id — a hash join,
      never a nested-loop — so the pair space is bucket-bound at
      100 TB. Recall is the standard OR-of-tables S-curve
      (1 - (1 - p^n_planes)^n_tables for per-plane agreement p);
      raise ``n_tables`` / lower ``n_planes`` to trade cost for
      recall. ``family='md5'`` makes the buckets plan-literal and
      SQL-reproducible (value-oracled in op_llm_02_embedding_neardup_lsh).
    * ``method='brute'``: the exact all-pairs self-join — its only
      join condition is ``id < id``, which plans as a nested-loop
      over ALL pairs. Oracle/bench-scale only (this is the exactness
      contract the DuckDB oracle checks); never the default.
    * ``block_col``: caller-supplied blocking key (IVF cell,
      partition key) — equality-joined; overrides ``method``.

    Norms are computed per VECTOR below the join (n sqrt-folds), not
    per pair (n² would triple the interpreted higher-order-function
    work in the pair kernel — measured 63s -> ~20s at 5k vectors);
    dividing the pairwise dot by the two prejoined norms performs
    the identical float ops in the identical order as cosine_expr."""
    from gexp_ml_dask_spark.llm.similarity import (
        dot_expr,
        hyperplane_buckets,
        norm_expr,
        valid_vector_expr,
    )

    sel = [
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ]
    if block_col:
        sel.append(F.col(block_col))
    # Vector-validity gate (similarity.valid_vector_expr contract):
    # the LSH path additionally pins the declared hyperplane dim;
    # brute/blocked paths accept ragged corpora but only score
    # equal-length pairs (condition added below).
    lsh_path = block_col is None and method == "lsh"
    docs = (
        embeddings.select(*sel)
        .filter(valid_vector_expr(F.col("_v"), dim=dim if lsh_path else None))
        .withColumn("_n", norm_expr(F.col("_v")))
    )

    if block_col is None and method == "lsh":
        cand = None
        for t in range(n_tables):
            bt = hyperplane_buckets(
                docs.select(id_col, "_v"),
                n_planes,
                dim,
                "_v",
                seed + t,
                out_col="_bucket",
                family=family,
            ).select(id_col, "_bucket")
            a, b = bt.alias("a"), bt.alias("b")
            pairs_t = a.join(
                b,
                (F.col("a._bucket") == F.col("b._bucket"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            ).select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            cand = pairs_t if cand is None else cand.unionByName(pairs_t)
        cand = cand.distinct()
        va = docs.select(
            F.col(id_col).alias("id_a"),
            F.col("_v").alias("_va"),
            F.col("_n").alias("_na"),
        )
        vb = docs.select(
            F.col(id_col).alias("id_b"),
            F.col("_v").alias("_vb"),
            F.col("_n").alias("_nb"),
        )
        cosine = F.try_divide(
            dot_expr(F.col("_va"), F.col("_vb")), F.col("_na") * F.col("_nb")
        )
        return (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .select("id_a", "id_b", F.round(cosine, 6).alias("cosine"))
            .filter(F.col("cosine") >= threshold)
        )
    if block_col is None and method != "brute":
        raise ValueError(f"unknown embedding neardup method: {method}")

    a, b = docs.alias("a"), docs.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (
        F.size(F.col("a._v")) == F.size(F.col("b._v"))
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    cosine = F.try_divide(
        dot_expr(F.col("a._v"), F.col("b._v")),
        F.col("a._n") * F.col("b._n"),
    )
    pairs = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.round(cosine, 6).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= threshold)
