"""Text analysis operators for training-data pipelines (north-star
extensions, BASELINE.json): token counting, quality scoring,
language-ID heuristic, document fingerprinting.

All pure built-in column expressions — whole-stage-codegen-friendly,
no Python in the hot path. Each has an exact DuckDB-SQL twin (the
polynomial hash and tokenizers were cross-checked primitive-by-
primitive), so even the "fuzzy" text ops are oracle-verifiable.

Scale notes (100 TB): every operator here is a narrow projection —
no shuffle at all. They pipeline with the parquet scan and with each
other; the natural layout is documents bucketed/partitioned by source
shard, processed embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from funding_monitoring_spark.functions.scalars import let
from funding_monitoring_spark.plans.inspect import scan_size_bytes

POLY_MOD = 1_000_000_007
POLY_INIT = 7
POLY_MULT = 31

#: tiny per-language marker-word sets for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "fr": ("le", "la", "les", "et", "est", "une"),
    "es": ("el", "los", "las", "es", "una", "y"),
}

PUNCT_CLASS = r"[.,;:!?'\"()\-]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization as an array column (no empty tokens)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(r"(\S+)"), 1)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def word_bigrams(col: Column | str) -> Column:
    """All consecutive token bigrams (NOT distinct — repetition metrics
    need the multiset). A document with <2 tokens yields an empty array.
    """
    def body(toks: Column) -> Column:
        n = F.size(toks)
        pairs = F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        )
        return F.when(n >= 2, pairs).otherwise(
            F.array().cast("array<string>")
        )

    return let(tokens(col), body)


def word_trigrams(col: Column | str) -> Column:
    """All consecutive token trigrams (NOT distinct — LM counting
    needs the multiset). A document with <3 tokens yields an empty
    array."""

    def body(toks: Column) -> Column:
        n = F.size(toks)
        first_pairs = F.zip_with(
            F.slice(toks, 1, n - 2),
            F.slice(toks, 2, n - 2),
            lambda a, b: F.concat_ws(" ", a, b),
        )
        tris = F.zip_with(
            first_pairs,
            F.slice(toks, 3, n - 2),
            lambda ab, c: F.concat_ws(" ", ab, c),
        )
        return F.when(n >= 3, tris).otherwise(
            F.array().cast("array<string>")
        )

    return let(tokens(col), body)


def word_bigram_structs(col: Column | str) -> Column:
    """`word_bigrams` emitting (w1, w2) STRUCTS instead of
    space-joined strings — for consumers that immediately need the
    component words (the LM scorers re-split the string ×k per row;
    tokens contain no whitespace, so the concat→split round trip is
    lossless and skipping it changes nothing). Multiset, not
    distinct."""

    def body(toks: Column) -> Column:
        n = F.size(toks)
        pairs = F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
        return F.when(n >= 2, pairs).otherwise(
            F.array().cast("array<struct<w1:string,w2:string>>")
        )

    return let(tokens(col), body)


def word_trigram_structs(col: Column | str) -> Column:
    """`word_trigrams` as (w1, w2, w3) structs — see
    word_bigram_structs."""

    def body(toks: Column) -> Column:
        n = F.size(toks)
        tris = F.zip_with(
            F.zip_with(
                F.slice(toks, 1, n - 2),
                F.slice(toks, 2, n - 2),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            ),
            F.slice(toks, 3, n - 2),
            lambda ab, c: F.struct(
                ab["w1"].alias("w1"),
                ab["w2"].alias("w2"),
                c.alias("w3"),
            ),
        )
        return F.when(n >= 3, tris).otherwise(
            F.array().cast(
                "array<struct<w1:string,w2:string,w3:string>>"
            )
        )

    return let(tokens(col), body)


def distinct_token_ratio(col: Column | str) -> Column:
    """Vocabulary diversity: |distinct tokens| / |tokens|; 1.0 for an
    empty document (vacuously diverse — nothing repeats)."""
    def body(toks: Column) -> Column:
        n = F.size(toks)
        return F.when(
            n > 0, F.size(F.array_distinct(toks)) / n
        ).otherwise(F.lit(1.0))

    return let(tokens(col), body)


#: PII patterns — deliberately simple and identical in Java regex and
#: DuckDB's RE2 dialect so the redaction is oracle-verifiable.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+1-555-[0-9]{4}"


def redact_pii(col: Column | str) -> Column:
    """Replace email addresses then phone numbers with typed tags.
    Spark's regexp_replace is replace-all by default (DuckDB needs the
    'g' flag — see the oracle twin in suites/curation_suite.py)."""
    c = F.col(col) if isinstance(col, str) else col
    no_email = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(no_email, PHONE_RE, "<PHONE>")


def poly_fingerprint(col: Column | str) -> Column:
    """Rolling polynomial hash over codepoints:
    acc = (acc*31 + codepoint) mod 1e9+7, acc0 = 7.

    A classic Rabin-Karp-style document fingerprint; implemented with
    higher-order functions (split → transform → aggregate) so it stays
    JVM-side, and reproducible in ANSI SQL (list_reduce) for the oracle.
    """
    c = F.col(col) if isinstance(col, str) else col
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(POLY_INIT).cast("long"),
        lambda acc, x: (acc * POLY_MULT + x) % POLY_MOD,
    )


def char_pairs(col: Column | str, max_chars: int = 200) -> Column:
    """All adjacent character pairs of the (bounded, lowercased) text —
    the counting primitive inside one BPE tokenizer-training step.

    BPE training is a driver-side loop of identical distributed jobs:
    count adjacent symbol pairs across the corpus, merge the most
    frequent pair, repeat. This column expression is that inner job's
    per-row fan-out, expressed with built-in higher-order functions
    (sequence → transform → substring) so it stays inside whole-stage
    codegen: no Python UDF, no shuffle until the global count.
    ``max_chars`` bounds per-row fan-out (a 1 GB document must not
    produce a 1-billion-element array in one task); production BPE
    samples the corpus anyway.
    """
    c = F.col(col) if isinstance(col, str) else col

    def body(t: Column) -> Column:
        n = F.length(t)
        pairs = F.transform(
            F.sequence(F.lit(1), n - 1), lambda i: t.substr(i, F.lit(2))
        )
        return F.when(n >= 2, pairs).otherwise(
            F.array().cast("array<string>")
        )

    return let(F.lower(F.substring(c, 1, max_chars)), body)


#: hashed-feature space for the linear quality scorer
NGRAM_HASH_DIM = 1024


def hashed_ngram_score(
    col: Column | str,
    n: int = 3,
    dim: int = NGRAM_HASH_DIM,
    seed: int = 1,
    max_chars: int = 400,
) -> Column:
    """Linear model scoring over hashed char n-gram features — the
    SHAPE of fasttext-style quality filtering (the standard
    pretraining-corpus filter), with the model reduced to its
    plumbing: each n-gram of the (bounded, lowercased) text hashes
    into one of ``dim`` buckets (rolling polynomial hash mod dim —
    the hashing trick), each bucket carries a fixed deterministic
    weight in [-0.5, 0.5) (the LCG mix of operators/sampling.py over
    the bucket id), and the document's score is the mean feature
    weight, rounded to 6. Swapping the LCG weights for a trained
    vector is a ONE-expression change — the scan-stage feature
    hashing, the fold, and the filter predicate are exactly what a
    real model-scored filter executes per document at 100 TB (no
    UDF, no shuffle; the score is a pure projection).

    Texts shorter than ``n`` contribute their whole text as one
    feature; empty text scores NULL."""
    from funding_monitoring_spark.operators.sampling import (
        SAMPLE_MOD,
        key_hash,
    )

    c = F.col(col) if isinstance(col, str) else col

    def body(t: Column) -> Column:
        ln = F.length(t)
        # Char codes computed ONCE per document, grams taken as
        # slices of the code array (guide §1/§4 — HOF lambdas run
        # interpreted, so per-element work is the cost unit): the
        # per-gram formulation re-split and re-ascii'd every gram's
        # characters, touching each document character ~n times
        # through fresh string allocations. Slicing the let-bound
        # code array feeds the SAME code sequence to the same fold,
        # so every hash — and the score — is bit-identical (equality
        # verified over the full sf0.1 corpus), at ~1/3 the wall.
        codes = F.transform(
            F.split(t, ""), lambda ch: F.ascii(ch).cast("long")
        )

        def ph_of(cs: Column) -> Column:
            return F.aggregate(
                cs,
                F.lit(POLY_INIT).cast("long"),
                lambda acc, x: (acc * POLY_MULT + x) % POLY_MOD,
            )

        def weight(cs: Column) -> Column:
            b = F.pmod(ph_of(cs), F.lit(dim))
            return key_hash(b, seed) / F.lit(float(SAMPLE_MOD)) - F.lit(
                0.5
            )

        def inner(cs: Column) -> Column:
            weights = F.when(
                ln >= n,
                F.transform(
                    F.sequence(F.lit(1), ln - (n - 1)),
                    lambda i: weight(F.slice(cs, i, n)),
                ),
            ).otherwise(F.array(weight(cs)))
            # n_grams in closed form — referencing `weights` twice
            # (fold + size) would re-evaluate the whole gram pass
            n_grams = F.when(
                ln >= n, (ln - (n - 1)).cast("long")
            ).otherwise(F.lit(1).cast("long"))
            mean = F.aggregate(
                weights, F.lit(0.0), lambda a, x: a + x
            ) / n_grams
            return F.when(ln > 0, F.round(mean, 6) + F.lit(0.0))

        return let(codes, inner)

    return let(F.lower(F.substring(c, 1, max_chars)), body)


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    return F.when(
        n > 0, F.regexp_count(c, F.lit(PUNCT_CLASS)) / n
    ).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Deterministic quality heuristic in [0,1]: length component +
    low-punctuation component + English-stopword component. The exact
    formula is arbitrary by design (the reference has no text surface);
    what matters is it is reproducible and cheap.

    The token array is let-bound so tokenization runs once per row
    (the three components would otherwise each re-tokenize)."""
    c = F.col(col) if isinstance(col, str) else col
    punct_part = F.lit(1.0) - F.least(F.lit(1.0), punct_ratio(c) * 5)
    stops = F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])

    def body(toks: Column) -> Column:
        n_tok = F.size(toks)
        n_stop = F.size(
            F.filter(toks, lambda t: F.array_contains(stops, F.lower(t)))
        )
        stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
        length_part = F.least(F.lit(1.0), n_tok / F.lit(100.0))
        stop_part = F.least(F.lit(1.0), stop_ratio * 5)
        return length_part * 0.5 + punct_part * 0.3 + stop_part * 0.2

    return let(tokens(c), body)


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Marker-word hit count per language, plus a CJK codepoint count
    for zh (word lists don't apply to unsegmented scripts)."""
    c = F.col(col) if isinstance(col, str) else col

    def contains_any(words: tuple[str, ...]):
        # single-arg lambda: F.filter dispatches on the lambda's arity
        arr = F.array(*[F.lit(w) for w in words])
        return lambda t: F.array_contains(arr, F.lower(t))

    scores = {
        lang: F.size(F.filter(tokens(c), contains_any(words)))
        for lang, words in LANG_MARKERS.items()
    }
    scores["zh"] = F.regexp_count(c, F.lit(r"[一-鿿]"))
    return scores


#: argmax priority: earlier languages win score ties
_LANG_ORDER = ("en", "de", "fr", "es", "zh")


def lang_id(col: Column | str) -> Column:
    """Argmax language with a fixed priority tie-order (en, de, fr, es,
    zh) and 'und' when no marker hits at all.

    Tokenization and the per-language scores are each evaluated once
    per row: the token array and the score array are let-bound (a
    naive WHEN-chain over `lang_scores` would re-tokenize ~20×)."""
    c = F.col(col) if isinstance(col, str) else col
    zh_score = F.regexp_count(c, F.lit(r"[一-鿿]"))

    def score_array(toks: Column) -> Column:
        def contains_any(words: tuple[str, ...]):
            arr = F.array(*[F.lit(w) for w in words])
            return lambda t: F.array_contains(arr, F.lower(t))

        word_scores = [
            F.size(F.filter(toks, contains_any(LANG_MARKERS[lang])))
            for lang in _LANG_ORDER
            if lang != "zh"
        ]
        return F.array(*word_scores, zh_score)

    def pick(scores: Column) -> Column:
        best = F.array_max(scores)
        expr = F.lit("und")
        # build the WHEN chain in reverse priority so earlier langs win
        for i, lang in reversed(list(enumerate(_LANG_ORDER))):
            expr = F.when(
                (best > 0) & (F.get(scores, i) == best), F.lit(lang)
            ).otherwise(expr)
        return expr

    return let(let(tokens(c), score_array), pick)


#: collocation_pmi re-tokenize vs persist gate (VERDICT r13 item 6).
#: Below this input size the 5-pass shape wins: re-running a
#: trivially-parallel tokenize over an OS-cached corpus is cheaper
#: than writing the count tables to storage memory (r13 measured the
#: persist LOSING ~0.2 s at sf0.1 in every condition — isolated and
#: alternating A/B; r14 re-measured 5-pass still ahead at a 5 MB
#: synthetic, warm {0.97, 1.14} vs {1.12, 1.35} s). Above it the
#: tokenize CPU of three extra corpus passes dominates the one-time
#: count-table cache write — measured at an 81 MB / 750k-doc
#: synthetic: 5-pass {8.28, 4.82, 5.15} vs persisted 2-pass
#: {4.44, 3.23, 3.22} s (alternating in-session A/B, fully
#: page-cached; at real scale, where the corpus does NOT fit the
#: page cache, the gap only widens). The gated shape persists the
#: two count tables and derives each total as the exact integer sum
#: of its table (identical to counting the raw streams).
PMI_PERSIST_MIN_BYTES = 32 * 1024 * 1024


def collocation_pmi(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 20,
) -> DataFrame:
    """Top collocations by pointwise mutual information:
    PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) over adjacent token bigrams —
    the corpus-analysis primitive behind multi-word-expression
    detection (tokenizer vocab candidates, boilerplate phrases).

    Shape at scale: one unigram-count aggregate and one bigram-count
    aggregate (fixed-width word keys, map-side combined), two
    broadcast-sized joins of the bigram table against the vocab
    counts, and a global top-n over the min_count-filtered
    collocation table — bounded by vocabulary, not corpus size. The
    PMI expression divides in a fixed order on both engines and the
    ranking sorts the ROUNDED value with (w1, w2) tie-breaks, so the
    report is value-hashable; ln's last-ulp engine variance is
    absorbed by the rounding (irrational outputs — measure-zero
    boundary risk)."""
    from pyspark.sql.window import Window

    from funding_monitoring_spark.operators.cachescope import (
        scoped_persist,
    )

    uni = docs.select(F.explode(tokens(text_col)).alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    # struct-emitting bigrams: the string form re-split every bigram
    # row twice; tokens contain no whitespace, so this is
    # value-identical (guide §1)
    big = docs.select(
        F.explode(word_bigram_structs(text_col)).alias("bg")
    ).select("bg.w1", "bg.w2")
    bcnt = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    if scan_size_bytes(docs) >= PMI_PERSIST_MIN_BYTES:
        # size-gated 2-pass shape: persist the count tables (consumed
        # by both join sides resp. the totals) and derive each total
        # as the exact integer sum of its count table — identical to
        # counting the raw token/bigram streams
        ucnt = scoped_persist(ucnt)
        bcnt = scoped_persist(bcnt)
        t_total = ucnt.agg(
            F.sum("n_w").cast("double").alias("t")
        )
        b_total = bcnt.agg(
            F.sum("n_pair").cast("double").alias("b")
        )
    else:
        t_total = uni.agg(
            F.count(F.lit(1)).cast("double").alias("t")
        )
        b_total = big.agg(
            F.count(F.lit(1)).cast("double").alias("b")
        )
    u1 = ucnt.select(
        F.col("w").alias("w1"), F.col("n_w").alias("n_w1")
    )
    u2 = ucnt.select(
        F.col("w").alias("w2"), F.col("n_w").alias("n_w2")
    )
    scored = (
        bcnt.filter(F.col("n_pair") >= min_count)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(t_total))
        .crossJoin(F.broadcast(b_total))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("n_pair") / F.col("b"))
                    / (
                        (F.col("n_w1") / F.col("t"))
                        * (F.col("n_w2") / F.col("t"))
                    )
                ),
                6,
            ),
        )
    )
    w = Window.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select("w1", "w2", "n_pair", "pmi", "rank")
    )


# -- Gopher-style document quality rules ------------------------------------

#: the published Gopher rule stop list (Rae et al. 2021, public):
#: a document must contain at least 2 of these to pass the stop rule
GOPHER_STOPS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPS = 2

#: hash marks and ellipses per the symbol-to-word rule
_SYMBOL_RE = r"#|\.\.\.|…"


def gopher_report(col: Column | str) -> Column:
    """Gopher-style quality rules as ONE struct column (single
    tokenization per row via let; the struct-emission discipline from
    the r9 MAD lesson). Fields: the measured statistics plus one 0/1
    flag per rule and the conjunction:

    - word count within [50, 100000]
    - mean word length within [3, 10]
    - symbol-to-word ratio (#, ellipsis) <= 0.1
    - >= 80% of words contain an alphabetic character
    - >= 2 stop words from the 8-word Gopher list

    Thresholds compare UNROUNDED doubles (IEEE-identical in any
    engine); the reported ratios are rounded to 6 digits for the
    oracle hash."""
    c = F.col(col) if isinstance(col, str) else col
    n_symbols = F.size(F.regexp_extract_all(c, F.lit(_SYMBOL_RE), 0))

    def body(t: Column) -> Column:
        n = F.size(t)
        total_len = F.aggregate(
            t, F.lit(0), lambda acc, x: acc + F.length(x)
        )
        mean_len = F.when(
            n > 0, total_len.cast("double") / n
        ).otherwise(F.lit(0.0))
        n_stops = F.size(
            F.filter(t, lambda x: F.lower(x).isin(*GOPHER_STOPS))
        )
        n_alpha = F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]")))
        frac_alpha = F.when(
            n > 0, n_alpha.cast("double") / n
        ).otherwise(F.lit(0.0))
        sym_ratio = F.when(
            n > 0, n_symbols.cast("double") / n
        ).otherwise(F.lit(0.0))
        p_words = (
            (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)
        ).cast("int")
        p_len = (
            (mean_len >= GOPHER_MIN_MEAN_LEN)
            & (mean_len <= GOPHER_MAX_MEAN_LEN)
        ).cast("int")
        p_sym = (sym_ratio <= GOPHER_MAX_SYMBOL_RATIO).cast("int")
        p_alpha = (frac_alpha >= GOPHER_MIN_ALPHA_FRAC).cast("int")
        p_stops = (n_stops >= GOPHER_MIN_STOPS).cast("int")
        return F.struct(
            n.alias("n_words"),
            F.round(mean_len, 6).alias("mean_word_len"),
            F.round(sym_ratio, 6).alias("symbol_ratio"),
            F.round(frac_alpha, 6).alias("frac_alpha_words"),
            n_stops.alias("n_stop_hits"),
            p_words.alias("pass_word_count"),
            p_len.alias("pass_mean_word_len"),
            p_sym.alias("pass_symbol_ratio"),
            p_alpha.alias("pass_alpha_words"),
            p_stops.alias("pass_stop_words"),
            (p_words * p_len * p_sym * p_alpha * p_stops).alias(
                "pass_gopher"
            ),
        )

    return let(tokens(c), body)
