"""Training-data pipeline operations over a plain documents table
(doc_id, text, lang, source, n_chars) — the large-scale corpus-curation ops
a 100 TB text pipeline needs, each expressed with JVM-side built-ins so the
whole operator stays inside whole-stage codegen (no Python in the hot path).

Deduplication family: exact (hash-groupBy), n-gram Jaccard near-dup,
MinHash + LSH banding, SimHash. Text analysis: language-ID heuristic,
quality scoring, token counting, rolling-hash fingerprinting.

Hash choice: every hash is derived from md5 hex (deterministic, engine-
portable) so DuckDB oracles can reproduce results bit-for-bit — Spark's
``hash()``/``xxhash64`` are engine-specific and would make results
unverifiable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared normalization
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
             "for", "on", "with", "as", "at", "by")


def norm_text(c: Column) -> Column:
    """Lowercase, collapse whitespace, trim — the canonical dedup key."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def _pin(out: DataFrame, *handles: DataFrame) -> DataFrame:
    """Record the persisted intermediates an operator's result depends on
    so callers can release them once the result is materialized: the
    returned DataFrame is lazy, so the operator itself cannot unpersist,
    and pinned blocks left in a long-lived session degrade later
    workloads (161s -> 413s measured)."""
    out._aopwiki_pins = handles
    return out


def release_pins(df: DataFrame) -> None:
    """Unpersist the intermediates :func:`_pin` recorded on ``df``. Call
    after the terminal action on ``df`` (mirrors sparqlcorpus.evict_view).
    Safe to call twice or on un-pinned frames."""
    for h in getattr(df, "_aopwiki_pins", ()):
        try:
            h.unpersist()
        except Exception:
            pass
    df._aopwiki_pins = ()


def md5_64(c: Column) -> Column:
    """Portable 60-bit integer hash: first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def tokens(c: Column) -> Column:
    return F.filter(F.split(norm_text(c), " "), lambda t: t != "")


# ---------------------------------------------------------------------------
# dedup: exact
# ---------------------------------------------------------------------------

def dedup_exact_groups(docs: DataFrame) -> DataFrame:
    """Exact-duplicate groups by normalized-text md5. One shuffle on the
    digest; map-side partial agg keeps it cheap at scale."""
    return (docs
            .select(F.col("doc_id"), F.md5(norm_text(F.col("text"))).alias("sig"))
            .groupBy("sig")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("keep_doc_id"))
            .where(F.col("n_docs") > 1))


def dedup_exact_keep_first(docs: DataFrame) -> DataFrame:
    """Survivors of exact dedup (keep min doc_id per signature)."""
    return (docs
            .withColumn("sig", F.md5(norm_text(F.col("text"))))
            .groupBy("sig")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"))


# ---------------------------------------------------------------------------
# dedup: n-gram Jaccard (exact near-dup on shingle sets)
# ---------------------------------------------------------------------------

def shingle_rows(docs: DataFrame, id_col: str, n: int = 3) -> DataFrame:
    """(id, sh) exploded distinct shingles, tokenizing each text ONCE.

    Two projections: the token array is materialized as its own column
    (multi-referenced, so CollapseProject keeps it un-inlined), and the
    shingle lambda slices that materialized ARRAY. Higher-order functions
    evaluate interpreted with no common-subexpression elimination, so a
    lambda over ``tokens(text)`` itself would re-tokenize the text once
    per shingle position, O(tokens^2) per document. Texts shorter than
    ``n`` tokens yield no rows (Spark's ``sequence(1, 0)`` would count
    DOWN, so the guard maps them to an empty array). The guard lives
    INSIDE the generator (when/otherwise) rather than as a ``where``: a
    filter on ``size(_toks)`` gets pushed below the projection and
    re-tokenizes every row a second time (measured +0.5 s at sf0.1)."""
    toks_df = docs.select(F.col(id_col).alias("id"),
                          tokens(F.col("text")).alias("_toks"))
    grams = F.when(F.size("_toks") >= n, F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, n))))
        ).otherwise(F.array().cast("array<string>"))
    return toks_df.select("id", F.explode(grams).alias("sh"))


def _shingle_rows_sz(docs: DataFrame, id_col: str, n: int = 3) -> DataFrame:
    """(id, sh, sz): exploded distinct shingles with sz = the document's
    distinct-shingle count carried per posting row — free, it is the size
    of the gram array computed BEFORE the explode, so no separate
    groupBy(id) pass (or join back) is ever needed for Jaccard
    denominators.

    The generator is ``explode(transform(_g, struct(sh, sz)))``, NOT
    ``explode(_g)`` with sz projected alongside: with a bare-attribute
    generator, InferFiltersFromGenerate adds a ``size(_g) > 0`` filter
    whose pushdown INLINES the whole shingle pipeline into the Filter
    condition — measured 9-13 s vs 0.5 s warm at sf0.1, the same
    filter-duplication pathology as in minhash_signature_df. The rule
    skips non-cheap generator children (SPARK-36715), so wrapping the
    attribute in the transform keeps the plan filter-free."""
    toks_df = docs.select(F.col(id_col).alias("id"),
                          tokens(F.col("text")).alias("_toks"))
    grams = F.when(F.size("_toks") >= n, F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, n))))
        ).otherwise(F.array().cast("array<string>"))
    g = toks_df.select("id", grams.alias("_g"))
    ex = g.select("id", F.explode(F.transform(
        "_g", lambda x: F.struct(x.alias("sh"),
                                 F.size("_g").alias("sz")))).alias("p"))
    return ex.select("id", F.col("p.sh").alias("sh"),
                     F.col("p.sz").alias("sz"))


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = 0.8,
                        id_col: str = "doc_id") -> DataFrame:
    """All document pairs with shingle-set Jaccard >= threshold.

    Scale path: inverted index on shingles (a pair is only compared if it
    shares >= 1 shingle) — never a cross join. Frequency-capped to avoid
    quadratic blowup on boilerplate shingles (drop shingles occurring in
    > 1000 docs: they cannot discriminate near-dups and only create hot
    keys).

    Shape: ONE exchange of the postings (no persist, freq job, semi-join,
    two-sided self-join or sizes joins). ``count(*) over (partition by sh)`` rides the same
    hashpartitioning the per-shingle ``collect_list`` needs, so the
    frequency cap costs no extra shuffle; set sizes travel inside the
    posting rows (``_shingle_rows_sz``); candidate pairs are generated
    from each under-cap posting list with codegen'd posexplode+slice
    (exact i<j, no interpreted HOF); one more exchange aggregates the
    per-pair intersection counts. Measured at sf0.1 (interleaved min-of-4
    noop walls): 1.39 s vs 2.36 s for the persist + self-join shape vs
    2.03 s for a freq+semi-join variant of the same collect shape; no
    storage blocks are pinned, so release_pins is a no-op here.

    Scale safety: over-cap postings cross the one exchange and are
    buffered by WindowExec (which SPILLS, ExternalAppendOnlyUnsafeRow-
    Buffer) before the filter drops them — degraded, not OOM, on extreme
    boilerplate; the collect-then-filter alternative (cap applied to the
    collected array, 1.7 s at sf0.1) instead builds unbounded arrays for
    over-cap keys and was rejected on that hazard. The freq+semi variant
    sheds over-cap rows before the window buffer but pays a second
    aggregation pass and a broadcast; it shuffles the SAME posting rows
    (the semi-join itself repartitions by sh at scale).
    """
    from pyspark.sql import Window
    sh = _shingle_rows_sz(docs, id_col, n)
    capped = (sh.withColumn("df", F.count("*").over(Window.partitionBy("sh")))
              .where(F.col("df") <= 1000))
    lists = capped.groupBy("sh").agg(
        F.sort_array(F.collect_list(F.struct("id", "sz"))).alias("ids"))
    # codegen'd exact i<j pair generation: posexplode the sorted list,
    # slice the tail, explode. The a.id < b.id guard restates the join
    # semantics for degenerate inputs (null or duplicated ids) — free for
    # well-formed corpora (slice already guarantees i < j).
    ex = lists.select(F.posexplode("ids").alias("i", "a"), F.col("ids"))
    ex = (ex.select("a", F.explode(F.slice("ids", F.col("i") + F.lit(2),
                                           F.size("ids"))).alias("b"))
          .where(F.col("a.id") < F.col("b.id")))
    pairs = (ex.groupBy(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"),
                        F.col("a.sz").alias("sz_a"),
                        F.col("b.sz").alias("sz_b"))
             .agg(F.count("*").alias("inter")))
    return (pairs
            .withColumn("jaccard",
                        F.col("inter")
                        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def ngram_cap_stats(docs: DataFrame, n: int = 3, cap: int = 1000,
                    id_col: str = "doc_id") -> DataFrame:
    """Coverage accounting for the frequency cap in ``ngram_jaccard_pairs``
    ("no silent caps"): how many distinct shingles exceeded the cap and how
    many (doc, shingle) postings were dropped with them. A non-zero
    n_capped_shingles means some boilerplate-heavy near-dup pairs can be
    missed; surface it in the run report instead of hiding it."""
    sh = shingle_rows(docs, id_col, n)
    over = (sh.groupBy("sh").agg(F.count("*").alias("df"))
            .where(F.col("df") > cap))
    return over.agg(
        F.count("*").alias("n_capped_shingles"),
        F.coalesce(F.sum("df"), F.lit(0)).alias("n_dropped_postings"))


# ---------------------------------------------------------------------------
# dedup: MinHash + LSH banding
# ---------------------------------------------------------------------------

_MH_P = 2147483647  # Mersenne prime 2^31-1: affine products stay in bigint


def _mh_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine re-hash constants (a, b), engine-portable."""
    import hashlib

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [(h(f"mha{i}") % (_MH_P - 1) + 1, h(f"mhb{i}") % _MH_P)
            for i in range(num_hashes)]


def minhash_signature_df(docs: DataFrame, num_hashes: int,
                         id_col: str) -> DataFrame:
    """(id, sig: array<bigint>) minhash signatures.

    Shape: explode the distinct shingles, hash each ONCE
    (pmod(md5_64, P)), then ONE hash aggregation per doc computing all
    num_hashes affine re-hash minima ``min_i((a_i*h + b_i) mod P)`` as
    plain ``min`` aggregates — whole-stage-codegen'd with map-side
    partial aggregation, so only (id, num_hashes minima) partials cross
    the exchange. Docs with zero shingles drop out of the groupBy.

    Not a single ``aggregate``/``zip_with`` fold over a per-row hash
    array: that HOF tree is interpreted (no codegen), and its shingle+md5
    pipeline is duplicated into the pushed-down ``size(hb) > 0`` Filter,
    so every row pays it twice (9.5 s of a 10.4 s sf0.1 wall). Not a
    per-hash salted md5 or nested ``transform`` either: each recomputes
    shingle+md5 per re-hash (~20x / 170 s).
    """
    params = _mh_params(num_hashes)
    hashed = shingle_rows(docs, id_col).select(
        "id", F.pmod(md5_64(F.col("sh")), F.lit(_MH_P)).alias("h"))
    mins = [F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b),
                         F.lit(_MH_P))).alias(f"h{i}")
            for i, (a, b) in enumerate(params)]
    return (hashed.groupBy("id").agg(*mins)
            .select("id", F.array(*[F.col(f"h{i}")
                                    for i in range(num_hashes)])
                    .alias("sig")))


def minhash_lsh_pairs(docs: DataFrame, num_hashes: int = 32,
                      bands: int = 8, id_col: str = "doc_id") -> DataFrame:
    """Candidate near-dup pairs: docs sharing >= 1 LSH band bucket.

    bands x rows layout (rows = num_hashes/bands). Banding turns the O(n^2)
    similarity search into a groupBy on band signatures — the canonical
    shuffle-friendly near-dup algorithm at 100 TB.
    """
    rows = num_hashes // bands
    sig = minhash_signature_df(docs, num_hashes, id_col)
    banded = sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.concat_ws("_", *[
                         F.col("sig")[b * rows + r].cast("string")
                         for r in range(rows)]).alias("bucket"))
            for b in range(bands)])).alias("bb"))
    banded = banded.select("id", "bb.band", "bb.bucket")
    # persist: the band-bucket self-join does NOT get a reused exchange
    # for its two sides (measured — the full signature pipeline ran twice,
    # once per side; ~2x the sf0.1 wall), so materialize the
    # banded table once. Lineage-preserving and spill-safe, like the
    # posting-list persist in ngram_jaccard_pairs.
    banded = banded.persist()
    pairs = (banded.alias("a")
             .join(banded.alias("b"),
                   (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"))
             .distinct())
    return _pin(pairs, banded)


# ---------------------------------------------------------------------------
# dedup: SimHash
# ---------------------------------------------------------------------------

def simhash(c: Column, bits: int = 16) -> Column:
    """bits-wide SimHash over tokens: for each bit, sign of the sum of
    (+1/-1) token-hash bit contributions. Pure built-ins, SINGLE hash pass:
    ``transform(tokens, md5_64)`` binds each token's hash once as the
    aggregate's lambda element, and all ``bits`` contributions are derived
    from it with integer bit-tests (one md5 per token total — the same
    materialize-once shape as ``minhash_signature_df``; a per-bit aggregate
    over ``md5_64(t)`` would run ``bits`` full md5 passes because separate
    aggregate expressions share no common subexpressions)."""
    toks = tokens(c)
    big0 = F.lit(0).cast("bigint")
    # bit b of h tested via AND with 2^b (exact on bigint; integer bit ops,
    # NOT '/': float division would lose precision on 60-bit hashes)
    pows = F.array(*[F.lit(1 << b).cast("bigint") for b in range(bits)])
    sums = F.aggregate(
        F.transform(toks, md5_64),
        F.array_repeat(big0, bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(pows, lambda pw: F.when(
                h.bitwiseAND(pw) != 0,
                F.lit(1)).otherwise(F.lit(-1)).cast("bigint")),
            lambda a, d: a + d))
    return F.aggregate(
        F.zip_with(sums, pows,
                   lambda s, pw: F.when(s > 0, pw).otherwise(big0)),
        big0, lambda a, x: a + x)


def simhash_table(docs: DataFrame, bits: int = 16) -> DataFrame:
    # Map-only: an explode + groupBy(16 codegen'd sums) reshape measured a
    # wash at sf0.1 (0.74 s both, 3 reps warm) — the fold runs once per row
    # with no pushed-down filter duplicating it, so a shuffle buys nothing.
    return docs.select("doc_id", simhash(F.col("text"), bits).alias("simhash"))


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

# Character-trigram profiles per language: space-padded trigrams of each language's
# most frequent function words — public linguistic knowledge, hand-derived,
# no external data. Sets are deduped + sorted so the Spark literals and the
# DuckDB VALUES oracle (queries.py) are built from the same constant.
LANG_TRIGRAM_PROFILES = {
    "de": tuple(sorted({
        " de", "der", "er ", "die", "ie ", "das", "as ", " un", "und",
        "nd ", " is", "ist", "st ", " ei", "ein", "in ", "ine", " ni",
        "nic", "ich", "cht", "ht ", " mi", "mit", "it ", " vo", "von",
        "on ", " zu", "zu ", " au", "auf", "uf ", "auc", "uch", "ch ",
        " we", "wer", "rde", "den", "en ", " si", "sic", "ass", " im",
        "im "})),
    "en": tuple(sorted({
        " th", "the", "he ", " an", "and", "nd ", " of", "of ", " to",
        "to ", " in", "in ", " is", "is ", " it", "it ", " fo", "for",
        "or ", " wi", "wit", "ith", "th ", " on", "on ", " as", "as ",
        "ing", "ng ", "ion", "tio", "ati", " be", "be ", "tha", "hat",
        "at ", " ar", "are", "re "})),
    "es": tuple(sorted({
        " el", "el ", " la", "la ", "los", "las", "as ", " de", "de ",
        "del", " qu", "que", "ue ", " en", "en ", " un", "un ", "una",
        "na ", " es", "es ", " po", "por", "or ", "par", "ara", "ra ",
        " co", "con", "on ", "omo", " no", "no ", " se", "se ", " su",
        "su ", " al", "al ", " lo", "lo ", "mas"})),
    "fr": tuple(sorted({
        " le", "le ", " la", "la ", "les", "es ", " de", "de ", "des",
        " du", "du ", " et", "et ", "est", "st ", " un", "un ", "une",
        "ne ", " qu", "que", "ue ", "qui", "ui ", " po", "pou", "our",
        "ur ", " pa", "par", "ar ", "pas", "as ", " da", "dan", "ans",
        "ns ", " su", "sur", " av", "ave", "vec", "ec ", " ne", " ce",
        "ce "})),
}
LANG_ID_MIN_HITS = 4


def char_trigrams(c: Column) -> Column:
    """Distinct character trigrams of the space-padded normalized text
    (padding makes word-boundary trigrams like ' th'/'he ' exist for the
    first/last words too)."""
    txt = F.concat(F.lit(" "), norm_text(c), F.lit(" "))
    return F.array_distinct(
        F.when(F.length(txt) >= 3,
               F.transform(F.sequence(F.lit(1), F.length(txt) - 2),
                           lambda i: txt.substr(i, F.lit(3))))
        .otherwise(F.array().cast("array<string>")))


def lang_id(c: Column) -> Column:
    """Character-trigram language ID over broadcast-literal profiles
    (en/fr/de/es): distinct-trigram hits per profile, predict the unique
    argmax when it clears LANG_ID_MIN_HITS, else 'unknown' (ties are
    'unknown' too — deterministic, engine-portable, no model download).
    Pure built-ins: the trigram set is one transform + array_distinct,
    each profile score one array_intersect against a literal array."""
    tris = char_trigrams(c)
    hits = {lang: F.size(F.array_intersect(
                tris, F.array(*[F.lit(t) for t in prof])))
            for lang, prof in LANG_TRIGRAM_PROFILES.items()}
    best = F.greatest(*hits.values())
    n_best = None
    for h in hits.values():
        term = F.when(h == best, F.lit(1)).otherwise(F.lit(0))
        n_best = term if n_best is None else n_best + term
    winner = F.lit("unknown")  # unreachable: n_best == 1 guards below
    for lang in sorted(hits, reverse=True):  # order immaterial (unique max)
        winner = F.when(hits[lang] == best, F.lit(lang)).otherwise(winner)
    return F.when((best >= LANG_ID_MIN_HITS) & (n_best == 1), winner) \
            .otherwise(F.lit("unknown"))


def quality_score(c: Column) -> Column:
    """Composite quality heuristic in [0,1]: length, punctuation density,
    stopword ratio, mean token length — all codegen'd expressions."""
    toks = tokens(c)
    n_tok = F.size(toks)
    n_char = F.length(c)
    punct = (F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", "")))
    punct_ratio = F.when(n_char > 0, punct / n_char).otherwise(F.lit(0.0))
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    sw_hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    sw_ratio = F.when(n_tok > 0, sw_hits / n_tok).otherwise(F.lit(0.0))
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    punct_score = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio * 5)
    sw_score = F.least(sw_ratio * 4, F.lit(1.0))
    return F.round((len_score + punct_score + sw_score) / 3.0, 6)


def token_count(c: Column) -> Column:
    """Whitespace token count of the normalized text."""
    return F.size(tokens(c))


def doc_fingerprint(c: Column) -> Column:
    """Stable content fingerprint: md5 of normalized text (cache key — the
    reference uses sha256(text)[:12] for its API caches,
    ner_el_mapper.py:66-68)."""
    return F.md5(norm_text(c))


def text_profile(docs: DataFrame) -> DataFrame:
    """One-pass profile: all text-analysis columns in a single projection."""
    t = F.col("text")
    return docs.select(
        "doc_id",
        lang_id(t).alias("lang_pred"),
        quality_score(t).alias("quality"),
        token_count(t).alias("n_tokens"),
        doc_fingerprint(t).alias("fingerprint"),
    )
