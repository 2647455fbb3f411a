"""Dual-dialect SQL emitters for text-analysis / similarity primitives.

Every metric is defined ONCE here and rendered for both Spark SQL and
DuckDB, so each operator's ``queries()`` entry and its oracle share a
single source of truth (same policy as functions/canonical.py).

Portability rules used throughout:
- hashes are md5 hex strings (both engines, lowercase hex) — min/max
  over them is lexicographic and engine-independent; the engine's fast
  path may swap in ``xxhash64`` (Spark-only, JVM-speed) via the
  ``hash_fn`` parameter where no oracle is required;
- no backslash escapes in generated SQL (dialects disagree) — char
  classes are written without ``\\`` and tabs via ``chr(9)``;
- ratios/scores are integer-derived doubles (exact division) so both
  engines produce bit-identical values.
"""

from __future__ import annotations

from far_finer_airtable_firestore_sync_spark.functions.canonical import DUCKDB, SPARK

# ---------------------------------------------------------------------------
# dialect primitives
# ---------------------------------------------------------------------------


def rx_count(col: str, pat: str, dialect: str) -> str:
    """Count regex matches."""
    if dialect == SPARK:
        return f"regexp_count({col}, '{pat}')"
    return f"len(regexp_extract_all({col}, '{pat}'))"


def rx_strip(col: str, pat: str, dialect: str) -> str:
    """Remove every match of ``pat``."""
    return rx_replace(col, pat, "", dialect)


def rx_replace(col: str, pat: str, repl: str, dialect: str) -> str:
    """Replace every match of ``pat`` with literal ``repl``."""
    if dialect == SPARK:
        return f"regexp_replace({col}, '{pat}', '{repl}')"
    return f"regexp_replace({col}, '{pat}', '{repl}', 'g')"


def split_ws(col: str, dialect: str) -> str:
    """Split on single spaces (fixture text is single-space separated)."""
    if dialect == SPARK:
        return f"split({col}, ' ')"
    return f"string_split({col}, ' ')"


def split_ws_safe(col: str, dialect: str) -> str:
    """``split_ws`` with null ≡ '' — the repetition/chunking contract
    treats a missing document as an empty one. Necessary for parity:
    a null word array otherwise flows through ``greatest``/`array_join`
    differently per engine (Spark's greatest skips nulls, DuckDB's
    returns null)."""
    return split_ws(f"coalesce({col}, '')", dialect)


def lfilter(arr: str, lam: str, dialect: str) -> str:
    return (f"filter({arr}, {lam})" if dialect == SPARK
            else f"list_filter({arr}, {lam})")


def ltransform(arr: str, lam: str, dialect: str) -> str:
    return (f"transform({arr}, {lam})" if dialect == SPARK
            else f"list_transform({arr}, {lam})")


def lsize(arr: str, dialect: str) -> str:
    return f"size({arr})" if dialect == SPARK else f"len({arr})"


def lmin(arr: str, dialect: str) -> str:
    return f"array_min({arr})" if dialect == SPARK else f"list_min({arr})"


def lmax(arr: str, dialect: str) -> str:
    return f"array_max({arr})" if dialect == SPARK else f"list_max({arr})"


def lslice(arr: str, start: str, count: int, dialect: str) -> str:
    """``count`` elements of ``arr`` starting at 1-based ``start``."""
    if dialect == SPARK:
        return f"slice({arr}, {start}, {count})"
    return f"list_slice({arr}, {start}, {start} + {count - 1})"


def lget(arr: str, idx: str, dialect: str) -> str:
    """1-based element access (Spark ``element_at``, DuckDB ``[]``)."""
    if dialect == SPARK:
        return f"element_at({arr}, {idx})"
    return f"{arr}[{idx}]"


def ljoin(arr: str, sep: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"array_join({arr}, '{sep}')"
    return f"array_to_string({arr}, '{sep}')"


def ldistinct(arr: str, dialect: str) -> str:
    return (f"array_distinct({arr})" if dialect == SPARK
            else f"list_distinct({arr})")


def seq(lo: str, hi: str, dialect: str) -> str:
    """Integer range as an array/list (inclusive)."""
    if dialect == SPARK:
        return f"sequence({lo}, {hi})"
    return f"generate_series({lo}, {hi})"


def explode_as(arr: str, alias: str, dialect: str) -> str:
    """Row-per-element select-list fragment: Spark ``explode``, DuckDB
    ``unnest`` (both legal alongside plain columns in a SELECT)."""
    if dialect == SPARK:
        return f"explode({arr}) as {alias}"
    return f"unnest({arr}) as {alias}"


def contains_any(x: str, words: list[str], dialect: str) -> str:
    lit = ", ".join(f"'{w}'" for w in words)
    if dialect == SPARK:
        return f"array_contains(array({lit}), {x})"
    return f"list_contains([{lit}], {x})"


# ---------------------------------------------------------------------------
# token counting / quality / language-id
# ---------------------------------------------------------------------------

WORD = "[A-Za-z0-9]+"
NONWORD = "[^A-Za-z0-9]"
PUNCT = "[.,;:!?]"

#: tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "es": ["el", "la", "de", "y", "es", "un"],
    "fr": ["le", "la", "de", "et", "est", "un"],
}


def whitespace_token_count(col: str, dialect: str) -> str:
    return rx_count(col, "[^ ]+", dialect)


def word_token_count(col: str, dialect: str) -> str:
    """BPE-ish unit count: word tokens via regex (SURVEY-mandated
    token-counting heuristic; a real BPE is a model artifact)."""
    return rx_count(col, WORD, dialect)


def char_count_no_ws(col: str, dialect: str) -> str:
    return f"length({rx_strip(col, '[ ]+', dialect)})"


def stopword_count(col: str, lang: str, dialect: str) -> str:
    toks = split_ws(f"lower({col})", dialect)
    hits = lfilter(toks, f"x -> {contains_any('x', STOPWORDS[lang], dialect)}", dialect)
    return lsize(hits, dialect)


def quality_base_exprs(col: str, dialect: str) -> dict[str, str]:
    """The six integer base counts every quality metric derives from.
    Computing these ONCE (a staging select) avoids re-evaluating the
    splits/regexes per derived column — Spark does not CSE across
    projection outputs."""
    return {
        "n_chars_total": f"length({col})",
        "n_tokens_ws": whitespace_token_count(col, dialect),
        "n_tokens_word": word_token_count(col, dialect),
        "_n_punct": rx_count(col, PUNCT, dialect),
        "_n_stop": stopword_count(col, "en", dialect),
        "_word_chars": f"length({rx_strip(col, NONWORD, dialect)})",
    }


def quality_derived_exprs(b: dict[str, str]) -> dict[str, str]:
    """Ratios/score from base-count references (column names in the
    staged path, inline expressions in the one-shot oracle path) —
    defined once so both paths share the exact formulas.

    greatest(..., 1) denominators: Spark 4 runs ANSI mode (div/0
    throws), DuckDB returns inf — sidestep both."""
    punct_ratio = (
        f"(cast({b['_n_punct']} as double) / greatest({b['n_chars_total']}, 1))"
    )
    stop_ratio = (
        f"(cast({b['_n_stop']} as double) / greatest({b['n_tokens_ws']}, 1))"
    )
    mean_tok_len = (
        f"(cast({b['_word_chars']} as double) / greatest({b['n_tokens_word']}, 1))"
    )
    score = (
        f"(0.4 * least(cast({b['n_tokens_ws']} as double) / 64.0, 1.0)"
        f" + 0.4 * least({stop_ratio} * 8.0, 1.0)"
        f" + 0.2 * (1.0 - least({punct_ratio} * 20.0, 1.0)))"
    )
    return {
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
        "mean_token_len": mean_tok_len,
        "quality_score": score,
    }


def quality_exprs(col: str, dialect: str) -> dict[str, str]:
    """One-shot (inline) form: every metric as a standalone expression
    — used by the DuckDB oracle; the Spark operator stages the base
    counts instead (same formulas by construction)."""
    base = quality_base_exprs(col, dialect)
    derived = quality_derived_exprs(base)
    out = {k: v for k, v in base.items() if not k.startswith("_")}
    out.update(derived)
    return out


def quality_classifier_exprs(
    col: str, dialect: str, threshold_milli: int = 550
) -> dict[str, str]:
    """Model-based quality filtering with a FIXED linear model — the
    fasttext-style classifier gate of a training pipeline, expressed
    so the score is bit-identical across engines.

    Four saturating features on a 0..1000 integer grid (length,
    stopword density, punctuation noise, alphanumeric density), a
    fixed weight vector, and integer division only — no floats
    anywhere, so the score (and the keep/drop verdict) is exact on
    any engine/cluster. Real deployments would learn the weights; the
    integer-grid scoring harness is the part that has to scale."""
    b = quality_base_exprs(col, dialect)
    return quality_classifier_from_base(b, dialect, threshold_milli)


def quality_classifier_from_base(
    b: dict[str, str], dialect: str, threshold_milli: int = 550
) -> dict[str, str]:
    """Classifier score/verdict from base-count REFERENCES — pass
    column names of a staged :func:`quality_base_exprs` select so the
    splits/regexes evaluate once per row (Spark does not CSE across
    projection outputs), or the inline expressions for the one-shot
    oracle path. Same formulas either way by construction."""
    intdiv = "div" if dialect == SPARK else "//"
    tok = f"greatest({b['n_tokens_ws']}, 1)"
    chars = f"greatest({b['n_chars_total']}, 1)"
    f_len = f"least((1000 * {b['n_tokens_ws']}) {intdiv} 64, 1000)"
    f_stop = f"least((8000 * {b['_n_stop']}) {intdiv} {tok}, 1000)"
    f_punct = f"(1000 - least((20000 * {b['_n_punct']}) {intdiv} {chars}, 1000))"
    f_alpha = f"least((1200 * {b['_word_chars']}) {intdiv} {chars}, 1000)"
    score = (
        f"((400 * {f_len} + 250 * {f_stop} + 200 * {f_punct} "
        f"+ 150 * {f_alpha}) {intdiv} 1000)"
    )
    return {
        "clf_score_milli": f"cast({score} as bigint)",
        "clf_keep": f"({score} >= {threshold_milli})",
    }


def langid_pred_from_scores(scores: dict[str, str]) -> str:
    """``lang_pred`` from per-language score REFERENCES — pass column
    names of a staged score select so each stopword filter evaluates
    once per row (the case+greatest otherwise re-evaluates every score
    ~3×; Spark does not CSE interpreted HOF subtrees), or the inline
    expressions for the one-shot oracle path. Deterministic tie-break:
    alphabetical lang order; 'und' when nothing matches."""
    langs = sorted(scores)  # tie-break order
    best = f"greatest({', '.join(scores[lg] for lg in langs)})"
    pred = "case "
    for lg in langs:
        pred += f"when {scores[lg]} = {best} and {best} > 0 then '{lg}' "
    pred += "else 'und' end"
    return pred


def langid_exprs(col: str, dialect: str) -> dict[str, str]:
    """Stopword-vote language id with deterministic tie-break
    (alphabetical lang order; 'und' when nothing matches)."""
    scores = {lang: stopword_count(col, lang, dialect) for lang in STOPWORDS}
    out = {f"score_{lang}": expr for lang, expr in scores.items()}
    out["lang_pred"] = langid_pred_from_scores(scores)
    return out


def word_ngrams(warr: str, g: int, dialect: str) -> str:
    """Word ``g``-grams (space-joined) from a word array. Short docs
    (< g words) yield one truncated gram — same convention as
    ``shingles``."""
    idx = seq("1", f"greatest({lsize(warr, dialect)} - {g - 1}, 1)", dialect)
    gram = ljoin(lslice(warr, "i", g, dialect), " ", dialect)
    return ltransform(idx, f"i -> {gram}", dialect)


#: PII patterns — portable Java-regex/RE2 subset (no backslash escapes,
#: no lookaround): email-shaped tokens and NANP-style 555 exchange
#: numbers. Heuristic scrubbing patterns, not a compliance guarantee.
PII_EMAIL = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+[A-Za-z0-9]"
PII_PHONE = "555-[0-9]{4}"


def pii_exprs(col: str, dialect: str) -> dict[str, str]:
    """Match counts + scrubbed text. Replacement order is fixed
    (emails first) so the two dialects rewrite identically. n_phones
    is counted on the email-redacted intermediate, not the raw text,
    so it always equals the number of <PHONE> substitutions actually
    made (a phone-shaped run inside an email local-part is consumed
    by the email redaction and must not be double-counted)."""
    email_redacted = rx_replace(col, PII_EMAIL, "<EMAIL>", dialect)
    redacted = rx_replace(email_redacted, PII_PHONE, "<PHONE>", dialect)
    return {
        "n_emails": rx_count(col, PII_EMAIL, dialect),
        "n_phones": rx_count(email_redacted, PII_PHONE, dialect),
        "text_redacted": redacted,
    }


def word_chunks(warr: str, chunk_words: int, dialect: str) -> str:
    """Non-overlapping ``chunk_words``-word chunks (space-joined) of a
    word array; the last chunk may be short. Empty arrays yield one
    empty chunk (guarded sequence)."""
    n_chunks = f"cast(ceil({lsize(warr, dialect)} / {chunk_words}.0) as int)"
    idx = seq("0", f"greatest({n_chunks} - 1, 0)", dialect)
    chunk = ljoin(
        lslice(warr, f"i * {chunk_words} + 1", chunk_words, dialect),
        " ",
        dialect,
    )
    return ltransform(idx, f"i -> {chunk}", dialect)


def repetition_metric_exprs(warr: str, dialect: str) -> dict[str, str]:
    """Gopher-style within-document repetition signals from a word
    array: duplicate-word fraction, most-frequent-word fraction, and
    duplicate word-2/3-gram fractions (Rae et al. 2021, "Scaling
    Language Models", Table A1 — public paper). All ratios are exact
    integer-derived double divisions, so Spark and DuckDB agree
    bit-for-bit.

    Per-doc cost is O(words × distinct words) array work — fine for
    bounded documents (cap the text upstream, as the LSH path does
    with max_chars); the plan itself is a zero-shuffle projection."""
    n = lsize(warr, dialect)
    nd = lsize(ldistinct(warr, dialect), dialect)
    per_word = lsize(lfilter(warr, "y -> y = x", dialect), dialect)
    counts = ltransform(ldistinct(warr, dialect), f"x -> {per_word}", dialect)
    out = {
        "n_words": n,
        "dup_word_frac": f"(cast({n} - {nd} as double) / greatest({n}, 1))",
        "top_word_frac": (
            f"(cast({lmax(counts, dialect)} as double) / greatest({n}, 1))"
        ),
    }
    for g in (2, 3):
        grams = word_ngrams(warr, g, dialect)
        gn = lsize(grams, dialect)
        gnd = lsize(ldistinct(grams, dialect), dialect)
        out[f"dup_{g}gram_frac"] = (
            f"(cast({gn} - {gnd} as double) / greatest({gn}, 1))"
        )
    return out


# ---------------------------------------------------------------------------
# shingles / fingerprints / minhash / simhash
# ---------------------------------------------------------------------------


def shingle_base(col: str, max_chars: int | None) -> str:
    """The (possibly truncated) text every shingle derives from — the
    SINGLE source of the gram definition: :func:`shingles` (array
    form) and exploded-postings consumers (codegen form, e.g.
    ``dedup_docs.containment_pairs``) must both build on this, or the
    blocking and verification gram sets silently drift (case/NULL
    handling — a real review finding)."""
    return f"substring({col}, 1, {max_chars})" if max_chars else col


def shingles(col: str, n: int, dialect: str, max_chars: int | None = None) -> str:
    """Distinct character n-gram array of ``col`` (optionally truncated
    to bound oracle cost)."""
    base = shingle_base(col, max_chars)
    idx = seq("1", f"greatest(length({base}) - {n - 1}, 1)", dialect)
    grams = ltransform(idx, f"i -> substring({base}, i, {n})", dialect)
    return ldistinct(grams, dialect)


def char_bigrams(col: str, dialect: str) -> str:
    """Non-distinct character bigram array of ``col`` (LM training /
    scoring multiset; order preserved). Spark's ``sequence(1, 0)``
    counts DOWN, so the short-string case needs an explicit empty
    guard; DuckDB's ``generate_series(1, 0)`` is already empty."""
    idx = seq("1", f"length({col}) - 1", dialect)
    grams = ltransform(idx, f"i -> substring({col}, i, 2)", dialect)
    if dialect == SPARK:
        return (
            f"case when length({col}) < 2 then array() else {grams} end"
        )
    return grams


#: modulus for the Kirsch-Mitzenmacher hash family (< 2^56 so the
#: 14-hex-digit operands never overflow int64 pre-reduction)
KM_MOD = 72057594037927931


def hex_to_bigint(expr: str, dialect: str) -> str:
    """Parse a (≤15-char) hex string to bigint in either dialect."""
    if dialect == SPARK:
        return f"cast(conv({expr}, 16, 10) as bigint)"
    return f"(('0x' || {expr})::bigint)"


def km_digest_pairs(shingles_expr: str, dialect: str) -> str:
    """ONE md5 per shingle -> (a, b) bigint pair from two 14-hex-digit
    windows of the digest. The Kirsch-Mitzenmacher basis: k hash
    functions h_i = (a + i*b) mod P derived from one digest, instead
    of k md5 invocations (~5x less hashing — md5 dominates minhash
    cost)."""
    hexes = ltransform(shingles_expr, "x -> md5(x)", dialect)
    a = hex_to_bigint("substring(h, 1, 14)", dialect)
    b = hex_to_bigint("substring(h, 15, 14)", dialect)
    if dialect == SPARK:
        pair = f"named_struct('a', {a}, 'b', {b})"
    else:
        pair = f"{{'a': {a}, 'b': {b}}}"
    return ltransform(hexes, f"h -> {pair}", dialect)


def km_signature_exprs(ab_col: str, seeds: int, dialect: str) -> list[str]:
    """Per-seed minhash over precomputed (a, b) pairs: pure integer
    folds, no further hashing."""
    out = []
    for i in range(seeds):
        h = f"(p.a + {i + 1} * p.b) % {KM_MOD}"
        out.append(lmin(ltransform(ab_col, f"p -> {h}", dialect), dialect))
    return out


def band_keys(sig_exprs: list[str], rows_per_band: int) -> list[str]:
    """LSH band keys: hash of each consecutive group of signature
    values (dialect-neutral: md5/concat only). Values are cast to
    string and ':'-separated so variable-length (numeric) signatures
    cannot alias across boundaries."""
    keys = []
    for b in range(0, len(sig_exprs), rows_per_band):
        group = [
            f"cast({e} as string)" for e in sig_exprs[b : b + rows_per_band]
        ]
        joined = " || ':' || ".join(group)
        keys.append(f"md5('b{b}:' || {joined})")
    return keys


def doc_fingerprint(col: str, dialect: str, n: int = 8) -> dict[str, str]:
    """Document fingerprints: full-content hash of normalized text plus
    a winnowing-style min-shingle hash (stable under suffix edits)."""
    norm = f"lower(trim({rx_strip(col, '[ ]+', dialect)}))"
    sh = shingles(col, n, dialect, max_chars=None)
    minsh = lmin(ltransform(sh, "x -> md5(x)", dialect), dialect)
    return {"content_hash": f"md5({norm})", "min_shingle_hash": minsh}


def token_hashes(col: str, dialect: str, max_chars: int | None = 128) -> str:
    """md5 hex per distinct lowercase token — the shared input of
    :func:`simhash64_from_hashes` (compute once in a CTE, not per bit)."""
    base = f"substring({col}, 1, {max_chars})" if max_chars else col
    toks = ldistinct(split_ws(f"lower({base})", dialect), dialect)
    return ltransform(toks, "t -> md5(t)", dialect)


def simhash64_from_hashes(hashes_col: str, dialect: str) -> str:
    """64-bit SimHash over precomputed token hashes, emitted as a
    16-char hex string.

    Per token: 64 bits from md5 hex digits; per bit: +1/-1 vote summed
    over tokens; bit set iff vote > 0. Pure integer arithmetic ->
    portable across engines.
    """
    hexdigits = "0123456789abcdef"

    def digit_val(pos: int) -> str:
        # 1-based position into the 32-char md5 hex; value = hex digit
        return (
            f"(position(substring(h, {pos}, 1) in '{hexdigits}') - 1)"
        )

    digit_parts = []
    for d in range(16):  # output hex digit d covers bits 4d..4d+3
        bit_terms = []
        for k in range(4):
            shift = 3 - k
            bit = f"(cast(floor({digit_val(d + 1)} / {2 ** shift}) as int) % 2)"
            vote_arr = ltransform(hashes_col, f"h -> 2 * {bit} - 1", dialect)
            agg = (
                f"aggregate({vote_arr}, 0, (a, x) -> a + x)"
                if dialect == SPARK
                else f"list_sum({vote_arr})"
            )
            bit_terms.append(f"(case when {agg} > 0 then {2 ** shift} else 0 end)")
        dv = " + ".join(bit_terms)
        digit_parts.append(f"substring('{hexdigits}', cast(({dv}) as int) + 1, 1)")
    return " || ".join(digit_parts)


# ---------------------------------------------------------------------------
# embedding similarity (quantized-exact, portable)
# ---------------------------------------------------------------------------


def quantize(col: str, dialect: str, scale: int = 1000) -> str:
    """float array -> bigint array on a fixed grid. Integer dot
    products are exact and order-independent — the portable basis for
    cosine parity across engines (float sums are not associative)."""
    lam = f"x -> cast(round(cast(x as double) * {scale}) as bigint)"
    return ltransform(col, lam, dialect)


#: letter -> soundex digit map (A..Z); 7 marks H/W (removed before the
#: run-collapse so same codes separated by h/w merge — the Ashcraft
#: rule), 0 marks vowels+Y (kept through the collapse so they split
#: runs, dropped after)
_SOUNDEX_MAP = "01230127022455012623017202"


def soundex_expr(col: str, dialect: str) -> str:
    """American Soundex as ONE portable SQL expression (identical
    pipeline both dialects, so the oracle can't drift): strip
    non-letters, map letters to codes, delete H/W, collapse runs,
    drop the first letter's code, drop vowels, pad to 4. Verified
    against Spark's native ``soundex()`` on a random alpha corpus
    (tests/test_round7_ops.py). NULL/letterless input -> NULL."""
    if dialect == SPARK:
        strip = f"regexp_replace({col}, '[^A-Za-z]', '')"

        def collapse_digit(x: str, d: int) -> str:
            return f"regexp_replace({x}, '{d}{d}+', '{d}')"
    else:
        strip = f"regexp_replace({col}, '[^A-Za-z]', '', 'g')"

        # DuckDB regex is RE2: no backreferences — collapse each
        # digit's runs with its own pass (identical chain in Spark,
        # keeping the two dialects the same pipeline)
        def collapse_digit(x: str, d: int) -> str:
            return f"regexp_replace({x}, '{d}{d}+', '{d}', 'g')"
    u = f"upper({strip})"
    m = f"translate({u}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '{_SOUNDEX_MAP}')"
    coll = f"replace({m}, '7', '')"
    for d in range(7):
        coll = collapse_digit(coll, d)
    # drop the first LETTER's code — unless that letter is H/W, whose
    # 7 was already deleted (dropping a position here would eat the
    # second letter's code: 'Hmm' must be H500, not H000)
    rest = (
        f"case when substring({u}, 1, 1) in ('H', 'W') then {coll} "
        f"else substring({coll}, 2) end"
    )
    digits = f"replace({rest}, '0', '')"
    return (
        f"case when length({u}) = 0 then null else "
        f"substring(concat(substring({u}, 1, 1), {digits}, '000'), 1, 4) end"
    )


def dot_int(a: str, b: str, dialect: str) -> str:
    if dialect == SPARK:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            f"cast(0 as bigint), (acc, v) -> acc + v)"
        )
    # empty lists: DuckDB list_sum([]) is NULL where Spark's aggregate
    # seed is 0 — coalesce. NULL inputs: Spark returns NULL, so the
    # case guard keeps that (a bare coalesce would turn NULL into 0).
    return (
        f"case when {a} is null or {b} is null then null else "
        f"coalesce(list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> {a}[i] * {b}[i])), 0) end"
    )


def l2sq_int(a: str, b: str, dialect: str) -> str:
    """Squared L2 distance between two quantized bigint arrays —
    exact integer arithmetic, order-independent, identical in both
    engines."""
    if dialect == SPARK:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            f"cast(0 as bigint), (acc, v) -> acc + v)"
        )
    # empty lists: DuckDB list_sum([]) is NULL where Spark's aggregate
    # seed is 0 — coalesce. NULL inputs: Spark returns NULL, so the
    # case guard keeps that (a bare coalesce would turn NULL into 0).
    return (
        f"case when {a} is null or {b} is null then null else "
        f"coalesce(list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 0) end"
    )


def cosine_quantized(a: str, b: str, dialect: str) -> str:
    """cosine(a, b) over quantized vectors: exact integer dot/norms,
    one final double division (IEEE — identical in both engines)."""
    dot = dot_int(a, b, dialect)
    na = dot_int(a, a, dialect)
    nb = dot_int(b, b, dialect)
    return (
        f"(cast({dot} as double) / (sqrt(cast({na} as double)) * "
        f"sqrt(cast({nb} as double))))"
    )


# ---------------------------------------------------------------------------
# XXH64 emulation for DuckDB (xxHash64, Y. Collet — public domain
# algorithm; the variant Spark's `xxhash64` SQL function implements,
# reference: spark/common/unsafe/.../XXH64.java, public Apache source).
#
# Purpose: value-oracle operators whose PRODUCTION path keys on
# Spark-native xxhash64 (JVM-side, ~5x cheaper than md5) without
# changing that path: the DuckDB twin recomputes the identical 64-bit
# values from first principles. The 64-bit state lives in HUGEINT on
# [0, 2^64); wrap-multiply splits the (always-constant) multiplier
# into 32-bit halves so no intermediate exceeds ~2^66; rotl is
# mul/div on disjoint bit ranges (OR == ADD); xor round-trips through
# UBIGINT. Emitted as LATERAL-ALIAS column chains (DuckDB reuses a
# prior select-list alias), keeping SQL text linear in step count.
# ---------------------------------------------------------------------------

XXH_P1 = 0x9E3779B185EBCA87
XXH_P2 = 0xC2B2AE3D27D4EB4F
XXH_P3 = 0x165667B19E3779F9
XXH_P4 = 0x85EBCA77C2B2AE63
XXH_P5 = 0x27D4EB2F165667C5
_M64 = 1 << 64


def _xx_mulc(a: str, c: int) -> str:
    """(a * c) mod 2^64 with constant c, via 32-bit split — every
    multiplier in XXH64 is one of the five primes."""
    ch, cl = c >> 32, c & 0xFFFFFFFF
    al = f"(cast(({a}) as hugeint) % 4294967296)"
    ah = f"(cast(({a}) as hugeint) // 4294967296)"
    return (
        f"({al} * {cl} + "
        f"((({al} * {ch} + {ah} * {cl}) % 4294967296) "
        f"* 4294967296)) % {_M64}"
    )


def _xx_rotl(a: str, n: int) -> str:
    # low<<n and high>>(64-n) occupy disjoint bits: OR == ADD
    return (
        f"((cast(({a}) as hugeint) * {1 << n}) % {_M64} + "
        f"(cast(({a}) as hugeint) // {1 << (64 - n)}))"
    )


def _xx_shr(a: str, n: int) -> str:
    return f"(({a}) // {1 << n})"


def _xx_xor(a: str, b: str) -> str:
    return (
        f"cast(xor(cast(({a}) as ubigint), cast(({b}) as ubigint)) "
        f"as hugeint)"
    )


def _xx_fmix(steps: list, h: str, p: str) -> str:
    """Final avalanche; appends steps, returns the result column."""
    steps.append((f"{p}f1", _xx_xor(h, _xx_shr(h, 33))))
    steps.append((f"{p}f2", _xx_mulc(f"{p}f1", XXH_P2)))
    steps.append((f"{p}f3", _xx_xor(f"{p}f2", _xx_shr(f"{p}f2", 29))))
    steps.append((f"{p}f4", _xx_mulc(f"{p}f3", XXH_P3)))
    steps.append((f"{p}f5", _xx_xor(f"{p}f4", _xx_shr(f"{p}f4", 32))))
    return f"{p}f5"


def _xx_word_step(steps: list, h: str, w: str, p: str) -> str:
    """One 8-byte round: h ^= rotl(w*P2,31)*P1; h = rotl(h,27)*P1+P4."""
    steps.append((f"{p}w1", _xx_mulc(w, XXH_P2)))
    steps.append((f"{p}w2", _xx_rotl(f"{p}w1", 31)))
    steps.append((f"{p}w3", _xx_mulc(f"{p}w2", XXH_P1)))
    steps.append((f"{p}w4", _xx_xor(h, f"{p}w3")))
    steps.append((f"{p}w5", _xx_rotl(f"{p}w4", 27)))
    steps.append(
        (f"{p}w6", f"({_xx_mulc(f'{p}w5', XXH_P1)} + {XXH_P4}) % {_M64}")
    )
    return f"{p}w6"


def _xx_int_step(steps: list, h: str, iv: str, p: str) -> str:
    """One 4-byte round: h ^= (iv & 0xFFFFFFFF)*P1; h = rotl(h,23)*P2+P3."""
    steps.append((f"{p}i1", _xx_mulc(f"(({iv}) % 4294967296)", XXH_P1)))
    steps.append((f"{p}i2", _xx_xor(h, f"{p}i1")))
    steps.append((f"{p}i3", _xx_rotl(f"{p}i2", 23)))
    steps.append(
        (f"{p}i4", f"({_xx_mulc(f'{p}i3', XXH_P2)} + {XXH_P3}) % {_M64}")
    )
    return f"{p}i4"


def _xx_byte_step(steps: list, h: str, bv: str, p: str) -> str:
    """One tail-byte round: h ^= b*P5; h = rotl(h,11)*P1."""
    steps.append(
        (f"{p}b1", f"(cast(({bv}) as hugeint) * {XXH_P5}) % {_M64}")
    )
    steps.append((f"{p}b2", _xx_xor(h, f"{p}b1")))
    steps.append((f"{p}b3", _xx_mulc(_xx_rotl(f"{p}b2", 11), XXH_P1)))
    return f"{p}b3"


def xxh64_ascii_steps(
    g: str, seed: int, prefix: str, max_bytes: int = 9
) -> tuple[list, str]:
    """Lateral-alias steps computing Spark ``xxhash64(g)`` (seed 42 by
    default — pass ``seed``) for an ASCII string column of byte length
    0..max_bytes (max_bytes <= 11: one 8-byte word + <=3 tail bytes;
    the shingle use case is exactly 9). Non-ASCII input would make
    byte length != char length and the values diverge — callers pin
    ASCII-ness (the driver gate would flag any drift red).

    Returns (steps, result_column); result is hugeint in [0, 2^64)."""
    if not 0 < max_bytes <= 11:
        raise ValueError("xxh64_ascii_steps supports 1..11 bytes")
    p = prefix
    steps: list = [(f"{p}n", f"length({g})")]
    # LE 8-byte word from bytes 1..8 (valid only when n >= 8)
    word = " + ".join(
        f"cast(ord(substr({g}, {i}, 1)) as hugeint) * {1 << (8 * (i - 1))}"
        for i in range(1, 9)
    )
    steps.append((f"{p}wv", f"case when {p}n >= 8 then {word} else 0 end"))
    # LE 4-byte int from bytes 1..4 (valid only when 4 <= n < 8)
    iv = " + ".join(
        f"cast(ord(substr({g}, {i}, 1)) as hugeint) * {1 << (8 * (i - 1))}"
        for i in range(1, 5)
    )
    steps.append(
        (f"{p}iv", f"case when {p}n >= 4 and {p}n < 8 then {iv} else 0 end")
    )
    steps.append(
        (f"{p}h0", f"({seed} + {XXH_P5} + cast({p}n as hugeint)) % {_M64}")
    )
    h = f"{p}h0"
    wres = _xx_word_step(steps, h, f"{p}wv", f"{p}a")
    steps.append((f"{p}h1", f"case when {p}n >= 8 then {wres} else {h} end"))
    h = f"{p}h1"
    ires = _xx_int_step(steps, h, f"{p}iv", f"{p}c")
    steps.append(
        (
            f"{p}h2",
            f"case when {p}n >= 4 and {p}n < 8 then {ires} else {h} end",
        )
    )
    h = f"{p}h2"
    # tail bytes: positions start..n where start = 9 (n>=8) / 5 (4<=n<8)
    # / 1 (n<4); at most max_bytes-8 / 3 / 3 iterations for n<=max_bytes
    steps.append(
        (
            f"{p}st",
            f"case when {p}n >= 8 then 9 when {p}n >= 4 then 5 else 1 end",
        )
    )
    n_tail = max(3, max_bytes - 8)
    for k in range(n_tail):
        bv = (
            f"case when {p}st + {k} <= {p}n then "
            f"cast(ord(substr({g}, {p}st + {k}, 1)) as hugeint) "
            f"else 0 end"
        )
        steps.append((f"{p}t{k}v", bv))
        bres = _xx_byte_step(steps, h, f"{p}t{k}v", f"{p}t{k}")
        steps.append(
            (
                f"{p}h{3 + k}",
                f"case when {p}st + {k} <= {p}n then {bres} else {h} end",
            )
        )
        h = f"{p}h{3 + k}"
    return steps, _xx_fmix(steps, h, f"{p}z")


def xxh64_int_steps(iv: str, seed_col: str, prefix: str) -> tuple[list, str]:
    """Steps for Spark's hashInt(iv, seed_col): chaining an INT value
    (e.g. an int literal argument of a multi-arg xxhash64 call) onto a
    running hash. ``iv`` must already be the unsigned 32-bit pattern."""
    p = prefix
    steps: list = [
        (f"{p}h0", f"(({seed_col}) + {XXH_P5} + 4) % {_M64}")
    ]
    h = _xx_int_step(steps, f"{p}h0", iv, f"{p}c")
    return steps, _xx_fmix(steps, h, f"{p}z")


def xxh64_long_steps(lv: str, seed_col: str, prefix: str) -> tuple[list, str]:
    """Steps for Spark's hashLong(lv, seed_col): chaining a BIGINT
    value onto a running hash. ``lv`` must be the unsigned 64-bit
    pattern (hugeint in [0, 2^64))."""
    p = prefix
    steps: list = [
        (f"{p}h0", f"(({seed_col}) + {XXH_P5} + 8) % {_M64}")
    ]
    h = _xx_word_step(steps, f"{p}h0", lv, f"{p}a")
    return steps, _xx_fmix(steps, h, f"{p}z")


def xxh64_signed(u: str) -> str:
    """Unsigned [0,2^64) hugeint -> the signed bigint Spark returns."""
    return (
        f"cast(case when ({u}) >= {1 << 63} then ({u}) - {_M64} "
        f"else ({u}) end as bigint)"
    )


def xxh64_unsigned(s: str) -> str:
    """Signed bigint -> unsigned 64-bit pattern as hugeint."""
    return (
        f"(case when ({s}) < 0 then cast(({s}) as hugeint) + {_M64} "
        f"else cast(({s}) as hugeint) end)"
    )


def stage_steps(steps: list) -> list:
    """Greedy-pack [(name, expr)] into stages: a step joins the
    current stage unless it references a name defined in it. DuckDB
    (like Spark) INLINES repeated select-list alias references
    textwise, so a 37-step lateral chain explodes ~3^37 at bind time
    (measured: one row, >60 s); rendering each stage as a MATERIALIZED
    CTE keeps the text linear. Independent chains (e.g. 8 seed hashes)
    pack into the same stages, so stage count ~ chain depth."""
    import re as _re

    stages: list = []
    current: list = []
    defined: set = set()
    for name, expr in steps:
        if any(_re.search(rf"\b{_re.escape(d)}\b", expr) for d in defined):
            stages.append(current)
            current, defined = [], set()
        current.append((name, expr))
        defined.add(name)
    if current:
        stages.append(current)
    return stages


def render_staged_ctes(
    base_cte: str,
    carry_cols: list,
    steps: list,
    out_exprs: list,
    prefix: str,
) -> tuple[str, str]:
    """Render steps as a chain of MATERIALIZED CTEs starting from
    ``base_cte``; returns (cte_text, final_cte_name). ``out_exprs``
    are (alias, expr) pairs evaluated in the final CTE; carry_cols
    thread through every stage. Liveness-prunes intermediate columns
    so stages stay narrow."""
    import re as _re

    stages = stage_steps(steps)
    # liveness: which defined names each later stage / the outputs use
    all_exprs_after: list = []
    for i in range(len(stages)):
        later = [e for st in stages[i + 1:] for _, e in st] + [
            e for _, e in out_exprs
        ]
        all_exprs_after.append(" || ".join(later))
    parts = []
    prev = base_cte
    live_from_prev: set = set()
    for i, stage in enumerate(stages):
        defined_so_far = live_from_prev | {n for n, _ in stage}
        needed_later = {
            d
            for d in defined_so_far
            if _re.search(rf"\b{_re.escape(d)}\b", all_exprs_after[i])
        }
        cols = carry_cols + [
            n for n in sorted(live_from_prev) if n in needed_later
        ]
        new_cols = [f"{e} as {n}" for n, e in stage if n in needed_later
                    or i == len(stages) - 1]
        # always keep names the outputs reference
        name = f"{prefix}{i}"
        parts.append(
            f"{name} as materialized (select "
            + ", ".join(cols + new_cols)
            + f" from {prev})"
        )
        prev = name
        live_from_prev = needed_later
    final = f"{prefix}out"
    outs = ", ".join(f"{e} as {a}" for a, e in out_exprs)
    parts.append(
        f"{final} as materialized (select "
        + ", ".join(carry_cols + [outs])
        + f" from {prev})"
    )
    return ",\n".join(parts), final


def simhash_block(sim_col: str, block_no: int, block_hex: int = 4) -> str:
    """Hex substring for pigeonhole block ``block_no`` of a hex-string
    SimHash (dialect-neutral: substring works in both engines)."""
    return f"substring({sim_col}, {block_no * block_hex + 1}, {block_hex})"


def hamming_hex(a: str, b: str, dialect: str, n_hex: int = 16) -> str:
    """Hamming distance between two equal-length hex-string hashes —
    summed per 4-hex (16-bit) chunk so no value approaches the signed
    bigint edge. Spark: bit_count(x ^ y); DuckDB: bit_count(xor())."""
    terms = []
    for c in range(0, n_hex, 4):
        ca = hex_to_bigint(f"substring({a}, {c + 1}, 4)", dialect)
        cb = hex_to_bigint(f"substring({b}, {c + 1}, 4)", dialect)
        if dialect == SPARK:
            terms.append(f"bit_count(({ca}) ^ ({cb}))")
        else:
            terms.append(f"bit_count(xor(({ca}), ({cb})))")
    return "(" + " + ".join(terms) + ")"
