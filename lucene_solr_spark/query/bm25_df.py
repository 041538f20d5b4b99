"""Brute-force BM25 executor — pure Catalyst DataFrame ops (milestone M1).

This is the engine's pinned scoring oracle (SURVEY §7.5): every other
execution path (segment scan + WAND, DuckDB SQL twin) must reproduce its
(doc, score) output exactly.

Physical shape (all JVM-side, whole-stage codegen; no Python UDFs):

    scan transcripts
      → tokenize (Column expr) → posexplode
      → filter term ∈ query terms            (pushed to scan where possible)
      → groupBy(doc, term).count  = tf       (partial+final hash agg)
      → per-term df via groupBy(term)        (tiny; broadcast back)
      → BM25 column arithmetic, fixed term-order sum
      → orderBy(score desc, conv_id, turn_idx).limit(k)
                                             (TakeOrderedAndProject:
                                              per-partition heap + driver
                                              merge ≡ TopDocs.merge)

Scale note: at 10^12 turns this plan recomputes corpus stats per query —
that is what the prebuilt segment index (index/ + executor.py) avoids.
The brute-force path exists for (a) rank-identity dueling, (b) ad-hoc
one-shot queries where building an index is not amortized.

BM25: ``lucene/core/src/java/org/apache/lucene/search/similarities/
BM25Similarity.java`` — idf = ln(1+(N-df+0.5)/(df+0.5)),
tf·(k1+1)/(tf+k1·(1-b+b·dl/avgdl)); k1=1.2, b=0.75; exact doc lengths
(no SmallFloat lossy norm byte — SURVEY §1.1 norms row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lucene_solr_spark.analyzer import tokens_col
from lucene_solr_spark.query.model import B, K1, BooleanSpec
from lucene_solr_spark.session import local_frame

DOC_KEY = ["conv_id", "turn_idx"]


def doc_tokens(transcripts: DataFrame) -> DataFrame:
    """Project transcripts to (doc key, role, tool, ts, toks, doc_len)."""
    return transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        tokens_col("text").alias("toks"),
    ).withColumn("doc_len", F.size("toks"))


def corpus_stats(docs: DataFrame) -> DataFrame:
    """1-row DF: N (doc count), avgdl = sum(doc_len)/N computed exactly.

    avgdl from an integer sum (not F.avg) so it is order-independent —
    float mean over a shuffled corpus is not reproducible, an int sum is.
    """
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("doc_len").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )


def _term_postings(docs: DataFrame, terms: list[str]) -> DataFrame:
    """(doc key, term, tf, doc_len) for the query's terms only.

    posexplode is not needed for tf; explode + filter + count suffices.
    The filter sits directly on the generator output so Catalyst prunes
    non-query tokens before the aggregation shuffle.
    """
    return (
        docs.select(*DOC_KEY, "doc_len", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy(*DOC_KEY, "term")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"), F.first("doc_len").alias("doc_len"))
    )


def _phrase_pred(phrase: tuple[str, ...], slop: int = 0):
    """Column predicate: tokens contain `phrase` as an ordered run with
    ≤ `slop` intervening positions (slop=0: exact adjacency).

    TwoPhaseIterator analog (ExactPhraseMatcher / SloppyPhraseMatcher):
    callers apply this only after the cheap term-AND match. Stays
    JVM-side (higher-order functions, no Python)."""
    n = len(phrase)
    if n == 1:
        return F.array_contains(F.col("toks"), phrase[0])
    if slop > 0:
        # Pinned sloppy contract (SloppyPhraseMatcher in-order subset):
        # terms in order with total intervening gap <= slop, i.e.
        # exists p1<...<pn with pn - p1 <= slop + n - 1.
        w = slop + n - 1  # max pn - p1
        # nested exists, innermost-out; 1-based counters over toks[i-1].
        # Spark sequence(a, b) DESCENDS when a > b, so each level guards
        # lower <= upper before the exists.
        expr = f"toks[i{n} - 1] = '{phrase[n - 1]}'"
        for j in range(n - 1, 0, -1):
            hi = f"least(size(toks), i1 + {w})"
            inner = (
                f"i{j} + 1 <= {hi} AND "
                f"exists(sequence(i{j} + 1, {hi}), i{j + 1} -> {expr})"
            )
            expr = f"toks[i{j} - 1] = '{phrase[j - 1]}' AND ({inner})"
        return F.expr(
            f"size(toks) >= {n} AND "
            f"exists(sequence(1, size(toks) - {n - 1}), i1 -> {expr})"
        )
    target = " ".join(phrase)
    grams = F.expr(
        f"transform(sequence(0, size(toks) - {n}), "
        f"i -> concat_ws(' ', slice(toks, i + 1, {n})))"
    )
    return F.array_contains(grams, target)


def _phrase_count_col(phrase: tuple[str, ...], slop: int = 0):
    """Phrase OCCURRENCE COUNT (PhraseQuery freq) as a Column. slop=0:
    the n-gram spelling of :func:`_phrase_pred`'s exact branch with
    array_contains swapped for a filter+size — one occurrence per
    matching start position. slop>0 (edismax ps, model.pf_slop): the
    count version of the sloppy branch — valid START anchors i1 with
    an in-order chain in the window (equals the n-gram count at
    slop=0, one pinned counting family). Stays JVM-side."""
    n = len(phrase)
    if slop > 0 and n > 1:
        w = slop + n - 1
        expr = f"toks[i{n} - 1] = '{phrase[n - 1]}'"
        for j in range(n - 1, 0, -1):
            hi = f"least(size(toks), i1 + {w})"
            inner = (
                f"i{j} + 1 <= {hi} AND "
                f"exists(sequence(i{j} + 1, {hi}), i{j + 1} -> {expr})"
            )
            expr = f"toks[i{j} - 1] = '{phrase[j - 1]}' AND ({inner})"
        return F.expr(
            f"CASE WHEN size(toks) >= {n} THEN "
            f"size(filter(sequence(1, size(toks) - {n - 1}), i1 -> {expr})) "
            f"ELSE 0 END"
        )
    target = " ".join(phrase)
    grams = (
        f"filter(transform(sequence(0, size(toks) - {n}), "
        f"i -> concat_ws(' ', slice(toks, i + 1, {n}))), g -> g = '{target}')"
    )
    return F.expr(
        f"CASE WHEN size(toks) >= {n} THEN size({grams}) ELSE 0 END"
    )


def _span_pred(
    group: tuple[str, ...],
    slop: int,
    prefix_end: int | None = None,
    pos_start: int = 0,
):
    """Unordered span-near containment, Catalyst spelling: some window
    of ``len(group)+slop`` consecutive tokens holds every group term
    (window anchored at each start s; the trailing starts are covered
    because a window whose minimum sits later would also be found
    anchored at that minimum).

    ``prefix_end``: SpanFirstQuery — the match must live entirely in
    the first ``prefix_end`` tokens, spelled as the SAME predicate
    over the truncated token prefix. ``pos_start`` (with
    ``prefix_end``): SpanPositionRangeQuery — the match lives in the
    0-based position band ``[pos_start, prefix_end)``, i.e. the SAME
    predicate over the contiguous token sub-array (window containment
    depends only on relative distances)."""
    n = len(group)
    w = n + slop
    if prefix_end is None:
        toks = "toks"
    else:
        toks = f"slice(toks, {pos_start + 1}, {prefix_end - pos_start})"
    terms = ", ".join("'" + t.replace("'", "\\'") + "'" for t in group)
    return F.expr(
        f"exists(sequence(1, greatest(size({toks}) - {w} + 1, 1)), s -> "
        f"size(array_intersect(array_distinct(slice({toks}, s, {w})), "
        f"array({terms}))) = {n})"
    )


def _span_not_pred(inc: tuple[str, ...], exc: tuple[str, ...], slop: int):
    """SpanNotQuery containment, Catalyst spelling (same pinned
    contract as scorer._span_not_docs): anchored sweep over all start
    positions s; per include term the FIRST occurrence in
    [s, s+w-1]; exclusion over [s, max(firsts)] — exact per the
    anchor-sweep argument in the scorer docstring."""
    w = len(inc) + slop

    def first_pos(t: str) -> str:
        lit = t.replace("'", "\\'")
        return (
            f"array_min(filter(sequence(s, least(s + {w} - 1, size(toks))), "
            f"i -> element_at(toks, i) = '{lit}'))"
        )

    firsts = [first_pos(t) for t in inc]
    not_null = " AND ".join(f"({e}) IS NOT NULL" for e in firsts)
    span_end = (
        f"greatest({', '.join(firsts)})" if len(firsts) > 1 else firsts[0]
    )
    excl_list = ", ".join("'" + t.replace("'", "\\'") + "'" for t in exc)
    no_excl = (
        f"NOT exists(sequence(s, {span_end}), "
        f"j -> element_at(toks, j) IN ({excl_list}))"
        if exc
        else "true"
    )
    return F.expr(
        f"size(toks) >= {len(inc)} AND "
        f"exists(sequence(1, size(toks)), s -> "
        f"CASE WHEN {not_null} THEN {no_excl} ELSE false END)"
    )


def _multi_phrase_pred(slots: tuple[tuple[str, ...], ...]):
    """MultiPhraseQuery adjacency, Catalyst spelling: ∃ start s with
    toks[s+i] ∈ slot_i for every slot (1-based element_at)."""
    n = len(slots)

    def lits(slot: tuple[str, ...]) -> str:
        return ", ".join("'" + t.replace("'", "\\'") + "'" for t in slot)

    conds = " AND ".join(
        f"element_at(toks, s + {j}) IN ({lits(slot)})"
        for j, slot in enumerate(slots)
    )
    return F.expr(
        f"size(toks) >= {n} AND "
        f"exists(sequence(1, size(toks) - {n - 1}), s -> {conds})"
    )


def _span_within_pred(little: str, big: tuple[str, ...], slop: int):
    """SpanWithinQuery containment, Catalyst spelling (same pinned
    per-owner anchor sweep as scorer._span_within_docs): anchors q are
    the positions holding a big-group term (the owner); per OTHER big
    term the LAST occurrence in [q, q+w−1], owner pinned at q;
    feasibility = every such pick exists; the little term must occur
    in [q, M = greatest(picks)]."""
    w = len(big) + slop

    def esc(t: str) -> str:
        return t.replace("'", "\\'")

    def pick(t: str) -> str:
        lit = esc(t)
        return (
            f"CASE WHEN element_at(toks, q) = '{lit}' THEN q "
            f"ELSE array_max(filter("
            f"sequence(q, least(q + {w} - 1, size(toks))), "
            f"i -> element_at(toks, i) = '{lit}')) END"
        )

    picks = [pick(t) for t in big]
    not_null = " AND ".join(f"({e}) IS NOT NULL" for e in picks)
    m_end = f"greatest({', '.join(picks)})" if len(picks) > 1 else picks[0]
    owners = ", ".join(f"'{esc(t)}'" for t in big)
    contains = (
        f"exists(sequence(q, {m_end}), "
        f"j -> element_at(toks, j) = '{esc(little)}')"
    )
    return F.expr(
        f"size(toks) >= {len(big)} AND "
        f"exists(sequence(1, size(toks)), q -> "
        f"element_at(toks, q) IN ({owners}) AND "
        f"CASE WHEN {not_null} THEN {contains} ELSE false END)"
    )


def _range_lit(v: str, dtype):
    """Range bound → Catalyst literal typed by the TARGET COLUMN
    (ADVICE r2): bound parseability must not pick the comparison
    semantics — ``role:[1 TO 5]`` on a string field is lexicographic
    in the index executor (dtype-driven ``_range_cmp``) and in the
    DuckDB oracle, so it must be here too. A string literal against a
    timestamp column is cast by Spark (same as before)."""
    from pyspark.sql import types as T

    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return F.lit(int(v))
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        return F.lit(float(v))
    return F.lit(v)


def rewrite_multiterm(
    transcripts: DataFrame, spec: BooleanSpec, max_expansions: int = 1024
) -> BooleanSpec:
    """Catalyst-side MultiTermQuery rewrite: expand wildcard/regexp
    nodes against the CORPUS vocabulary (distinct tokens) — the brute
    twin of ``IndexSearcher.rewrite``'s dictionary scan, same bounded
    (df desc, term asc) TopTermsRewrite ranking and the same LIKE /
    anchored-rlike predicate compilers, so both engines expand to the
    identical term set."""
    if not spec.needs_rewrite:
        return spec
    from dataclasses import replace

    from lucene_solr_spark.query.executor import IndexSearcher

    vocab = (
        doc_tokens(transcripts)
        .select("conv_id", "turn_idx", F.explode("toks").alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    extra: list[str] = []
    for pat in spec.wildcards:
        rows = (
            vocab.filter(IndexSearcher.wildcard_predicate(pat))
            .orderBy(F.desc("df"), "term").limit(max_expansions).collect()
        )
        extra.extend(sorted(r.term for r in rows))
    for pat in spec.regexps:
        rows = (
            vocab.filter(IndexSearcher.regexp_predicate(pat))
            .orderBy(F.desc("df"), "term").limit(max_expansions).collect()
        )
        extra.extend(sorted(r.term for r in rows))
    seen = set(spec.should)
    extra_t = tuple(t for t in dict.fromkeys(extra) if t not in seen)
    return replace(
        spec, wildcards=(), regexps=(), should=spec.should + extra_t
    )


def score_all(transcripts: DataFrame, spec: BooleanSpec) -> DataFrame:
    """UNSORTED scored hits (conv_id, turn_idx, score) — every matching
    doc, no top-k. The composable core: :func:`search` adds the pinned
    TakeOrdered; :func:`rerank`'s second pass and parent-block
    aggregations consume this directly so the plan never sorts the full
    hit set below an aggregation (the round-1 ``k=1<<30`` anti-pattern:
    a global single-task sort whose order the next groupBy discarded).
    """
    if spec.needs_rewrite:
        spec = rewrite_multiterm(transcripts, spec)
    if spec.min_should_match > len(spec.should):
        # unsatisfiable mm (e.g. a wildcard that matched nothing —
        # Lucene's empty rewrite): zero hits, not an error
        return local_frame(
            transcripts.sparkSession,
            [], "conv_id string, turn_idx int, score double"
        )
    docs = transcripts_docs = doc_tokens(transcripts)
    for fld, val in spec.filters:
        # FILTER occur / Solr fq: non-scoring constraint (BooleanClause.Occur#FILTER).
        docs = docs.filter(F.col(fld) == val)
    for fld, val in spec.not_filters:
        # Negated filter: differs-or-missing matches (MUST_NOT TermQuery
        # semantics) — null-safe inequality, not `!=` (null != v is null).
        docs = docs.filter(~F.col(fld).eqNullSafe(F.lit(val)))
    for fld, vals in spec.in_filters:
        # TermsQParser fq: set membership (TermInSetQuery; null never
        # matches — Column.isin is null on null input, filter drops it).
        docs = docs.filter(F.col(fld).isin(*vals))
    for fld in spec.exists_filters:
        # FieldValueQuery fq (field:*): the field has a value.
        docs = docs.filter(F.col(fld).isNotNull())
    for fld in spec.missing_filters:
        # -field:* : the field is missing.
        docs = docs.filter(F.col(fld).isNull())
    if spec.range_filters:
        dtypes = {f.name: f.dataType for f in docs.schema.fields}
    for fld, lo, hi in spec.range_filters:
        # Inclusive range fq (TermRangeQuery); bounds typed by the
        # target column so all three engines compare identically.
        if lo is not None:
            docs = docs.filter(F.col(fld) >= _range_lit(lo, dtypes[fld]))
        if hi is not None:
            docs = docs.filter(F.col(fld) <= _range_lit(hi, dtypes[fld]))
    for ph in spec.phrases:
        docs = docs.filter(_phrase_pred(ph, spec.phrase_slop))
    for mp in spec.multi_phrases:
        docs = docs.filter(_multi_phrase_pred(mp))
    for grp in spec.span_near:
        docs = docs.filter(_span_pred(grp, spec.span_slop))
    for grp in spec.span_first:
        docs = docs.filter(
            _span_pred(grp, spec.span_slop, prefix_end=spec.span_first_end)
        )
    for grp in spec.span_range:
        docs = docs.filter(
            _span_pred(
                grp,
                spec.span_slop,
                prefix_end=spec.span_range_end,
                pos_start=spec.span_range_start,
            )
        )
    if spec.span_or:
        # SpanOrQuery: one disjunction over span_near alternatives
        pred = _span_pred(spec.span_or[0], spec.span_slop)
        for grp in spec.span_or[1:]:
            pred = pred | _span_pred(grp, spec.span_slop)
        docs = docs.filter(pred)
    for inc, exc in spec.span_not:
        docs = docs.filter(_span_not_pred(inc, exc, spec.span_slop))
    for little, big in spec.span_within:
        docs = docs.filter(_span_within_pred(little, big, spec.span_slop))
    for ph in spec.must_not_phrases:
        docs = docs.filter(~_phrase_pred(ph, spec.phrase_slop))
    if spec.must_not:
        # ReqExclScorer: docs containing any excluded term drop out.
        excl = F.arrays_overlap("toks", F.array(*[F.lit(t) for t in spec.must_not]))
        docs = docs.filter(~excl)

    terms = list(spec.scoring_terms)
    if not terms:
        raise ValueError("query has no scoring terms")

    postings = _term_postings(docs, terms)

    # Weight phase (IndexSearcher#createWeight): global stats bound once.
    # df is computed over the UNFILTERED corpus — Lucene's IDF uses index
    # stats, not the filtered doc set. pf-phrase terms need df for the
    # phrase idf sum even when they aren't scoring terms.
    pf_terms = [t for ph in spec.pf_phrases for t in ph]
    stat_terms = list(dict.fromkeys(terms + pf_terms))
    stats = corpus_stats(transcripts_docs)
    dfs = (
        _term_postings(transcripts_docs, stat_terms)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )

    scored = (
        postings.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (K1 + 1))
            / (
                F.col("tf")
                + K1 * (1 - B + B * F.col("doc_len") / F.col("avgdl"))
            ),
        )
    )
    if spec.boosts:
        # BoostQuery: per-term multiplier on the contribution
        boost_col = F.lit(1.0)
        for t, b in spec.boosts:
            boost_col = F.when(F.col("term") == t, F.lit(float(b))).otherwise(boost_col)
        scored = scored.withColumn("contrib", F.col("contrib") * boost_col)

    must_set = set(spec.required_terms)
    agg = scored.groupBy(*DOC_KEY).agg(
        F.sum("contrib").alias("score"),
        F.count(F.lit(1)).alias("n_matched"),
        F.sum(F.when(F.col("term").isin(list(must_set)), 1).otherwise(0)).alias(
            "n_must"
        ),
    )
    if must_set:
        agg = agg.filter(F.col("n_must") == len(must_set))
    if spec.should and spec.min_should_match > 0:
        # MinShouldMatchSumScorer: >= mm of the SHOULD terms must match.
        mm_hits = (
            scored.filter(F.col("term").isin(list(spec.should)))
            .groupBy(*DOC_KEY)
            .agg(F.count(F.lit(1)).alias("n_should"))
            .filter(F.col("n_should") >= spec.min_should_match)
            .select(*DOC_KEY)
        )
        agg = agg.join(mm_hits, DOC_KEY, "left_semi")

    if spec.pf_phrases:
        # edismax pf (PhraseQuery scoring — see model.pf_phrases):
        # matched docs gain pf_boost × Σidf(phrase terms) ×
        # tf·(k1+1)/(tf+k1·norm) with tf = exact occurrence count.
        # idf sums stay declarative: (ph_id, term) pairs joined to the
        # corpus dfs; per-doc phrase tf is a Column expression over
        # toks — everything broadcast except the matched-doc pass.
        spark = transcripts.sparkSession
        pairs = local_frame(
            spark,
            [(i, t) for i, ph in enumerate(spec.pf_phrases) for t in ph],
            "ph_id int, term string",
        )
        boost_col = F.lit(1.0)
        for t, b in spec.boosts:  # BoostQuery folds into pf idf too
            boost_col = F.when(F.col("term") == t, F.lit(float(b))).otherwise(boost_col)
        idf_sums = (
            pairs.join(F.broadcast(dfs), "term", "left")
            .crossJoin(F.broadcast(stats))
            .withColumn("df", F.coalesce("df", F.lit(0)))
            .withColumn(
                "idf",
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * boost_col,
            )
            .groupBy("ph_id")
            .agg(F.sum("idf").alias("idf_sum"))
        )
        tf_cols = [
            _phrase_count_col(ph, spec.pf_slop).cast("double")
            for ph in spec.pf_phrases
        ]
        bonus = (
            docs.select(
                *DOC_KEY, "doc_len",
                F.posexplode(F.array(*tf_cols)).alias("ph_id", "pftf"),
            )
            .filter(F.col("pftf") > 0)
            .join(F.broadcast(idf_sums), "ph_id")
            .crossJoin(F.broadcast(stats))
            .withColumn(
                "b",
                F.lit(float(spec.pf_boost))
                * F.col("idf_sum")
                * (F.col("pftf") * (K1 + 1))
                / (
                    F.col("pftf")
                    + K1 * (1 - B + B * F.col("doc_len") / F.col("avgdl"))
                ),
            )
            .groupBy(*DOC_KEY)
            .agg(F.sum("b").alias("pf_bonus"))
        )
        agg = agg.join(bonus, DOC_KEY, "left").withColumn(
            "score", F.col("score") + F.coalesce("pf_bonus", F.lit(0.0))
        )

    return agg.select(*DOC_KEY, "score")


def search(
    transcripts: DataFrame, spec: BooleanSpec, round_to: int | None = None
) -> DataFrame:
    """Execute a BooleanSpec; returns top-k (conv_id, turn_idx, score).

    Deterministic total order: (score desc, conv_id asc, turn_idx asc) —
    the pinned tiebreak (SURVEY §7.3); TopDocs.merge's (score, shard,
    doc) tiebreak re-expressed on stable business keys. With `round_to`
    set, scores are rounded BEFORE the top-k ordering so the k-boundary
    is engine-independent (oracle comparison mode).
    """
    out = score_all(transcripts, spec)
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out.orderBy(F.desc("score"), "conv_id", "turn_idx").limit(spec.k)


def rerank(
    transcripts: DataFrame,
    first_pass: BooleanSpec,
    rerank_terms: list[str],
    rerank_docs: int,
    rerank_weight: float,
    k: int,
) -> DataFrame:
    """ReRankQParserPlugin analog: rescore top-N of phase 1 with a second
    query, final score = phase1 + weight * phase2 (Solr's default
    additive combine), re-sort, return top-k."""
    top_n = search(
        transcripts,
        BooleanSpec(must=first_pass.must, should=first_pass.should, k=rerank_docs),
    )
    # phase 2 scores EVERY doc unsorted (no global TakeOrdered of the
    # full hit set): the left join below keeps only phase-1's top-N.
    second = score_all(
        transcripts, BooleanSpec(should=tuple(rerank_terms), min_should_match=1)
    )
    joined = (
        top_n.alias("a")
        .join(
            second.select(*DOC_KEY, F.col("score").alias("score2")),
            DOC_KEY,
            "left",
        )
        .withColumn(
            "score",
            F.col("score") + rerank_weight * F.coalesce(F.col("score2"), F.lit(0.0)),
        )
    )
    return (
        joined.select(*DOC_KEY, "score")
        .orderBy(F.desc("score"), "conv_id", "turn_idx")
        .limit(k)
    )
