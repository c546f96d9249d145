"""Text-analysis operators (training-pipeline extension scope):
language-ID heuristic, quality scoring, token counting, document
fingerprinting, SimHash signatures. All pure Catalyst expressions over
the `documents` table, each with an exact DuckDB oracle (shared
md5-prefix-32 hash family — see functions/hashing.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from docling_api_spark.functions.hashing import (
    hamming32,
    md5_long,
    rolling_fingerprint,
    simhash_from_hashes,
    tokens,
)
from pyspark.sql.functions import transform as _transform
from docling_api_spark.plans import _sql as S
from docling_api_spark.plans.registry import query
from docling_api_spark.sources.catalog import load

_TOKS = S.toks("text")


@query(
    "token_count_bpe",
    oracle=f"""
        SELECT doc_id,
               len({_TOKS}) AS n_ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS n_bpe_tokens
        FROM documents
    """,
)
def token_count_bpe(spark, sf_dir):
    """Whitespace + BPE-ish regex token counts (chunker's budget unit,
    reference token_count core/models.py:110-154)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[A-Za-z0-9]+|[^A-Za-z0-9 ]"), 0)).alias(
            "n_bpe_tokens"
        ),
    )


from docling_api_spark.functions.textstats import STOP_EN as _STOP_EN  # noqa: E402


@query(
    "textstats_quality",
    oracle=f"""
        WITH t AS (SELECT doc_id, n_chars, {_TOKS} AS tok FROM documents)
        SELECT doc_id,
               len(tok) AS n_tokens,
               ROUND(list_sum(list_prepend(0, list_transform(tok, x -> len(x)))) /
                     CAST(len(tok) AS DOUBLE), 4) AS mean_tok_len,
               ROUND(len(list_filter(tok, x -> list_contains({_STOP_EN!r}, x))) /
                     CAST(len(tok) AS DOUBLE), 4) AS stop_ratio,
               ROUND(0.5 * LEAST(len(tok) / 100.0, 1.0) +
                     0.5 * (len(list_filter(tok, x -> list_contains({_STOP_EN!r}, x))) /
                            CAST(len(tok) AS DOUBLE)), 4) AS quality
        FROM t
    """,
)
def textstats_quality(spark, sf_dir):
    """Document quality scoring: length + stopword-density composite
    (the boilerplate/garbage filter a 100 TB training pipeline runs
    before chunking). Pure expressions — whole-stage codegen."""
    d = load(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    n = F.size(tok).cast("double")
    stop_lits = F.array(*[F.lit(s) for s in _STOP_EN])
    n_stop = F.size(F.filter(tok, lambda x: F.array_contains(stop_lits, x)))
    char_sum = F.aggregate(
        F.transform(tok, lambda x: F.length(x)), F.lit(0), lambda acc, x: acc + x
    )
    stop_ratio = F.round(n_stop / n, 4)
    return d.select(
        "doc_id",
        F.size(tok).alias("n_tokens"),
        F.round(char_sum / n, 4).alias("mean_tok_len"),
        stop_ratio.alias("stop_ratio"),
        F.round(0.5 * F.least(F.size(tok) / 100.0, F.lit(1.0)) + 0.5 * (n_stop / n), 4).alias(
            "quality"
        ),
    )


_LANG_STOPS = {
    "en": ["the", "a", "of", "and"],
    "de": ["der", "die", "das", "und"],
    "fr": ["le", "la", "les", "et"],
    "es": ["el", "los", "las", "y"],
}


def _lang_score_sql(lang: str) -> str:
    return (
        f"len(list_filter(tok, x -> list_contains({_LANG_STOPS[lang]!r}, x)))"
    )


@query(
    "langid_heuristic",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS tok FROM documents)
        SELECT doc_id,
               {_lang_score_sql("en")} AS s_en,
               {_lang_score_sql("de")} AS s_de,
               {_lang_score_sql("fr")} AS s_fr,
               {_lang_score_sql("es")} AS s_es,
               CASE WHEN {_lang_score_sql("en")} >= {_lang_score_sql("de")}
                     AND {_lang_score_sql("en")} >= {_lang_score_sql("fr")}
                     AND {_lang_score_sql("en")} >= {_lang_score_sql("es")} THEN 'en'
                    WHEN {_lang_score_sql("de")} >= {_lang_score_sql("fr")}
                     AND {_lang_score_sql("de")} >= {_lang_score_sql("es")} THEN 'de'
                    WHEN {_lang_score_sql("fr")} >= {_lang_score_sql("es")} THEN 'fr'
                    ELSE 'es' END AS predicted
        FROM t
    """,
)
def langid_heuristic(spark, sf_dir):
    """Stopword-profile language ID (n-gram-heuristic family):
    per-language stopword hit counts, deterministic argmax."""
    d = load(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    base = d.select("doc_id", tok.alias("tok"))

    def score(lang: str):
        lits = F.array(*[F.lit(s) for s in _LANG_STOPS[lang]])
        return F.size(F.filter(F.col("tok"), lambda x: F.array_contains(lits, x)))

    scored = base.select(
        "doc_id",
        score("en").alias("s_en"),
        score("de").alias("s_de"),
        score("fr").alias("s_fr"),
        score("es").alias("s_es"),
    )
    predicted = (
        F.when(
            (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") >= F.col("s_es")),
            "en",
        )
        .when((F.col("s_de") >= F.col("s_fr")) & (F.col("s_de") >= F.col("s_es")), "de")
        .when(F.col("s_fr") >= F.col("s_es"), "fr")
        .otherwise("es")
    )
    return scored.withColumn("predicted", predicted)


@query(
    "doc_fingerprint",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS tok FROM documents)
        SELECT doc_id, {S.fingerprint("tok")} AS fp, {S.md5long("doc_id::VARCHAR")} AS id_hash
        FROM t
    """,
)
def doc_fingerprint(spark, sf_dir):
    """Rolling polynomial fingerprint over token hashes (order
    sensitive — permuted docs get distinct prints, unlike bag hashes)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        rolling_fingerprint(tokens(F.col("text"))).alias("fp"),
        md5_long(F.col("doc_id")).alias("id_hash"),
    )


@query(
    "simhash_signatures",
    oracle=f"""
        WITH t AS (SELECT doc_id, {S.simhash32(S.toks("text"))} AS sig FROM documents),
             r AS (SELECT sig AS ref_sig FROM t WHERE doc_id = 0)
        SELECT doc_id, sig, bit_count(xor(sig, ref_sig)) AS ham_to_ref
        FROM t CROSS JOIN r
    """,
)
def simhash_signatures(spark, sf_dir):
    """32-bit SimHash per doc + Hamming distance to doc 0 (near-dup
    radius query). Signature is one shuffle-free expression; the
    distance probe broadcasts the single reference row."""
    d = load(spark, sf_dir, "documents")
    # md5 array projected once; 32 per-bit votes read the materialized
    # array (CollapseProject keeps the barrier: non-cheap alias used 32×)
    hashed = d.select("doc_id", _transform(tokens(F.col("text")), md5_long).alias("th"))
    sigs = hashed.select("doc_id", simhash_from_hashes(F.col("th")).alias("sig"))
    ref = sigs.filter(F.col("doc_id") == 0).select(F.col("sig").alias("ref_sig"))
    return sigs.crossJoin(F.broadcast(ref)).select(
        "doc_id", "sig", hamming32(F.col("sig"), F.col("ref_sig")).alias("ham_to_ref")
    )


@query(
    "quality_filter_curation",
    # the curation step itself: score → threshold filter → per-language
    # kept-corpus stats (what a 100 TB training-data pipeline reports
    # after the garbage filter). quality formula = textstats_quality's;
    # threshold 0.3 ~ the corpus median, so the filter genuinely splits.
    oracle=f"""
        WITH t AS (SELECT doc_id, lang, n_chars, {_TOKS} AS tok FROM documents),
        q AS (SELECT lang, n_chars,
                     ROUND(0.5 * LEAST(len(tok) / 100.0, 1.0) +
                           0.5 * (len(list_filter(tok, x -> list_contains({_STOP_EN!r}, x))) /
                                  CAST(len(tok) AS DOUBLE)), 4) AS quality
              FROM t)
        SELECT lang,
               COUNT(*) AS n_kept,
               CAST(SUM(n_chars) AS BIGINT) AS kept_chars
        FROM q WHERE quality >= 0.3
        GROUP BY lang
    """,
)
def quality_filter_curation(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    n = F.size(tok).cast("double")
    stop_lits = F.array(*[F.lit(s) for s in _STOP_EN])
    n_stop = F.size(F.filter(tok, lambda x: F.array_contains(stop_lits, x)))
    quality = F.round(
        0.5 * F.least(F.size(tok) / 100.0, F.lit(1.0)) + 0.5 * (n_stop / n), 4
    )
    kept = d.withColumn("quality", quality).filter(F.col("quality") >= 0.3)
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
    )


@query(
    "gopher_quality_flags",
    # Gopher/MassiveText repetition + composition filters (published
    # rules: token bounds, mean word length 3-10, >=80% alphabetic
    # tokens, top-bigram mass <=20%, duplicate-line fraction <=30%).
    # The Arrow kernel emits integer counters; every ratio/threshold is
    # JVM arithmetic, replayed exactly here.
    oracle=f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS tok,
                          string_split(text, chr(10)) AS ln
                   FROM documents),
        base AS (
            SELECT doc_id,
                   len(tok) AS n_tokens,
                   list_sum(list_prepend(0, list_transform(tok, x -> len(x))))
                       AS sum_tok_len,
                   len(list_filter(tok, x -> regexp_matches(x, '[A-Za-z]')))
                       AS n_alpha,
                   len(ln) AS n_lines,
                   len(list_distinct(ln)) AS n_distinct_lines,
                   [tok[i]||' '||tok[i+1] for i in range(1, len(tok))] AS bgs
            FROM t
        ),
        bgc AS (
            SELECT doc_id, MAX(c) AS top FROM (
                SELECT doc_id, g, COUNT(*) AS c
                FROM (SELECT doc_id, unnest(bgs) AS g FROM base)
                GROUP BY 1, 2
            ) GROUP BY 1
        ),
        sig AS (
            SELECT b.doc_id,
                   CAST(b.n_tokens AS INT) AS n_tokens,
                   CASE WHEN b.n_tokens > 0
                        THEN ROUND(b.sum_tok_len / CAST(b.n_tokens AS DOUBLE), 4)
                        END AS mean_tok_len,
                   CASE WHEN b.n_tokens > 0
                        THEN ROUND(b.n_alpha / CAST(b.n_tokens AS DOUBLE), 4)
                        END AS alpha_frac,
                   CASE WHEN b.n_tokens > 1
                        THEN ROUND(COALESCE(bgc.top, 0) /
                                   CAST(b.n_tokens - 1 AS DOUBLE), 4)
                        ELSE 0.0 END AS top_bigram_frac,
                   ROUND(1 - b.n_distinct_lines / CAST(b.n_lines AS DOUBLE), 4)
                       AS dup_line_frac
            FROM base b LEFT JOIN bgc ON bgc.doc_id = b.doc_id
        )
        SELECT *,
               COALESCE(n_tokens >= 50 AND n_tokens <= 100000
                        AND mean_tok_len >= 3.0 AND mean_tok_len <= 10.0
                        AND alpha_frac >= 0.8
                        AND top_bigram_frac <= 0.2
                        AND dup_line_frac <= 0.3, FALSE) AS passes
        FROM sig
    """,
)
def gopher_quality_flags(spark, sf_dir):
    from docling_api_spark.operators.quality import gopher_quality_signals

    d = load(spark, sf_dir, "documents")
    return gopher_quality_signals(d).select(
        F.col("id").cast("long").alias("doc_id"),
        "n_tokens",
        "mean_tok_len",
        "alpha_frac",
        "top_bigram_frac",
        "dup_line_frac",
        "passes",
    )


@query(
    "pii_scrub",
    # PII masking (standard pre-training hygiene). The driver corpus
    # has no PII, so deterministic identifiers are injected per doc_id
    # residue (email / phone / IPv4 / clean), then masked with typed
    # placeholders; counts come from the ORIGINAL text. Same regexes
    # both engines (character classes + \b only — Java and RE2 agree).
    # staged counts (= actual replacements): phones count on the
    # email-scrubbed text, IPs on the email+phone-scrubbed text, so a
    # digit run consumed by an earlier match never double-counts
    oracle=r"""
        WITH der AS (
            SELECT doc_id,
                   text || CASE doc_id % 4
                       WHEN 0 THEN ' contact user' || doc_id || '@example.com now'
                       WHEN 1 THEN ' call 555-123-4567 today'
                       WHEN 2 THEN ' served from 10.0.' || doc_id % 256 || '.7'
                       ELSE '' END AS t0
            FROM documents
        ),
        s1 AS (SELECT doc_id, t0,
                      regexp_replace(t0,
                          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                          '<EMAIL>', 'g') AS t1
               FROM der),
        s2 AS (SELECT doc_id, t0, t1,
                      regexp_replace(t1,
                          '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b',
                          '<PHONE>', 'g') AS t2
               FROM s1)
        SELECT doc_id,
               regexp_replace(t2,
                   '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                   '<IP>', 'g') AS scrubbed,
               len(regexp_extract_all(t0,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
               len(regexp_extract_all(t1,
                   '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS n_phones,
               len(regexp_extract_all(t2,
                   '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips
        FROM s2
    """,
)
def pii_scrub(spark, sf_dir):
    from docling_api_spark.operators.quality import scrub_pii

    d = load(spark, sf_dir, "documents")
    tail = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                        F.lit("@example.com now")))
        .when(F.col("doc_id") % 4 == 1, F.lit(" call 555-123-4567 today"))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(F.lit(" served from 10.0."),
                       (F.col("doc_id") % 256).cast("string"), F.lit(".7")))
        .otherwise(F.lit(""))
    )
    der = d.select("doc_id", F.concat(F.col("text"), tail).alias("text"))
    return scrub_pii(der).select("doc_id", "scrubbed", "n_emails", "n_phones", "n_ips")


def _bpe_oracle(n_merges: int) -> str:
    """Chained-CTE DuckDB twin of operators/bpe.py:bpe_train — one
    (pairs, best, merged-vocab) CTE triple per step, same argmax
    tie-break and the same delimited-string replace merge."""
    ctes = [
        f"""V0 AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
               list_append([substring(word, i, 1)
                            for i in range(1, CAST(length(word) + 1 AS BIGINT))],
                           '</w>') AS syms
        FROM (SELECT unnest({S.toks("text")}) AS word FROM documents)
        GROUP BY word)"""
    ]
    for t in range(1, n_merges + 1):
        ctes.append(
            f"""P{t} AS (
        SELECT s.syms[i] AS p1, s.syms[i + 1] AS p2, s.freq
        FROM V{t - 1} s, unnest(range(1, CAST(len(s.syms) AS BIGINT))) AS u(i))"""
        )
        ctes.append(
            f"""B{t} AS (
        SELECT p1, p2, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM P{t} GROUP BY p1, p2
        ORDER BY cnt DESC, p1, p2 LIMIT 1)"""
        )
        ctes.append(
            f"""V{t} AS (
        SELECT v.word, v.freq,
               string_split(trim(replace(
                   ' ' || array_to_string(v.syms, '  ') || ' ',
                   ' ' || b.p1 || '  ' || b.p2 || ' ',
                   ' ' || b.p1 || b.p2 || ' ')), '  ') AS syms
        FROM V{t - 1} v CROSS JOIN B{t} b)"""
        )
    union = "\n        UNION ALL ".join(
        f"SELECT {t} AS step, p1, p2, p1 || p2 AS merged, cnt AS pair_count FROM B{t}"
        for t in range(1, n_merges + 1)
    )
    return "WITH " + ",\n        ".join(ctes) + "\n        " + union


def _bpe_subword_oracle(n_merges: int, top: int) -> str:
    """Same chained-CTE merge derivation as :func:`_bpe_oracle`, but the
    final select aggregates the ENCODED vocabulary V{n} — the DuckDB
    twin of bpe_train + bpe_apply + subword rollup."""
    train = _bpe_oracle(n_merges)
    prefix = train[: train.rindex("SELECT 1 AS step")]
    return (
        prefix
        + f"""SELECT subword,
               CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words,
               CAST(SUM(freq) AS BIGINT) AS total_freq
        FROM (SELECT word, freq, unnest(syms) AS subword FROM V{n_merges})
        GROUP BY subword
        ORDER BY total_freq DESC, subword
        LIMIT {top}"""
    )


@query(
    "bpe_merge_table",
    # Distributed BPE training (arXiv:1508.07909): corpus collapses to
    # a word-frequency table in ONE pass, then 6 merge iterations run
    # on that vocab-sized table (pair-count agg -> argmax with
    # (count desc, p1, p2) tie-break -> greedy left-to-right merge via
    # delimited-string replace). Every merge row depends on all
    # previous ones, so the 6-row table pins the whole loop.
    oracle=_bpe_oracle(6),
)
def bpe_merge_table(spark, sf_dir):
    """First 6 learned BPE merges over the documents corpus. See
    operators/bpe.py for the vocab-sized-loop scale rationale (the
    per-step collect is one argmax row — KMeans-style driver
    coordination, not a data collect)."""
    from docling_api_spark.operators.bpe import bpe_train

    return bpe_train(load(spark, sf_dir, "documents"), n_merges=6)


@query(
    "bpe_subword_stats",
    # Train-then-ENCODE: the 6 learned merges are applied to the
    # vocabulary as one chained Catalyst projection (operators/bpe.py:
    # bpe_apply — nested delimited-string replaces, single codegen
    # stage), then the encoded symbol inventory is rolled up. The
    # oracle re-derives the same merges via the chained CTEs and
    # aggregates the same final vocab, so this pins train AND apply.
    oracle=_bpe_subword_oracle(6, 30),
)
def bpe_subword_stats(spark, sf_dir):
    """Top-30 subword symbols (by corpus frequency) after encoding the
    documents vocabulary with the first 6 learned BPE merges."""
    from docling_api_spark.operators.bpe import _train_merges, bpe_apply

    docs = load(spark, sf_dir, "documents")
    merges, vocab0 = _train_merges(docs, 6, "text")
    # reuse training's cached word-freq table: ONE corpus scan total
    enc = bpe_apply(None, [(m[1], m[2]) for m in merges], vocab=vocab0)
    return (
        enc.select("word", "freq", F.explode("syms").alias("subword"))
        .groupBy("subword")
        .agg(
            F.countDistinct("word").alias("n_words"),
            F.sum("freq").alias("total_freq"),
        )
        .orderBy(F.desc("total_freq"), "subword")
        .limit(30)
    )


_WINNOW_K = 5   # k-gram length (tokens)
_WINNOW_W = 8   # winnowing window (hashes)
_POS_BASE = 1 << 30  # packs (hash, rightmost-pos) into ONE bigint;
# pos lane is 30 bits — a document's token count is bounded well below
# 2^30 by the 2 GiB string limit, and h < 2^32 keeps keys < 2^62


@query(
    "winnow_fingerprints",
    # Winnowing (Schleimer, Wilkerson, Aiken, SIGMOD 2003): from the
    # positional k-gram hash stream, select the minimum of every
    # w-window, rightmost on ties — guarantees any shared substring of
    # length >= w+k-1 tokens yields a shared fingerprint while keeping
    # density ~2/(w+1). Tie-break and argmin are ONE integer min over
    # key = h*2^30 + (2^30 - pos) (h is 32-bit: key < 2^62; unpacking
    # uses only integer shift/mod, so every step is exact in both
    # engines) — no struct comparators, no window-frame arg_min
    # semantics to match across engines.
    oracle=f"""
        WITH t AS (SELECT doc_id, {S.toks("text")} AS tk FROM documents),
        wh AS (
            SELECT doc_id,
                   [{S.md5long(f"array_to_string(tk[i:i+{_WINNOW_K - 1}],' ')")}
                    for i in range(1, len(tk) - {_WINNOW_K} + 2)] AS wh
            FROM t
        ),
        ks AS (
            SELECT doc_id,
                   list_distinct([
                       list_min([wh[p] * {_POS_BASE} + ({_POS_BASE} - p)
                                 for p in range(j, j + {_WINNOW_W})])
                       for j in range(1, len(wh) - {_WINNOW_W} + 2)]) AS ks
            FROM wh
        )
        SELECT doc_id,
               CAST({_POS_BASE} - (k % {_POS_BASE}) AS BIGINT) AS pos,
               CAST(k // {_POS_BASE} AS BIGINT) AS fp
        FROM ks, unnest(ks) AS u(k)
    """,
)
def winnow_fingerprints(spark, sf_dir):
    """Winnowed (pos, fingerprint) selections per document — the
    position-robust document fingerprint set used for plagiarism-style
    near-dup detection. Pure Catalyst higher-order functions over the
    positional window-hash array; the corpus text never shuffles (only
    the selected (doc_id, pos, fp) rows leave the scan stage)."""
    d = load(spark, sf_dir, "documents")
    k = F.col("k")
    return (
        _winnow_keyed(d).select("doc_id", F.explode("keys").alias("k"))
        .select(
            "doc_id",
            (F.lit(_POS_BASE) - k % _POS_BASE).alias("pos"),
            _unpack_fp(k).alias("fp"),
        )
    )


def _unpack_fp(k):
    """Packed winnow key -> fingerprint lane (integer shift: exact for
    the full < 2^62 key range, unlike a double division)."""
    return F.shiftright(k, 30)


def _winnow_keyed(docs):
    """docs(doc_id, text) → (doc_id, keys: array<bigint>) of distinct
    packed winnow selections (see winnow_fingerprints for the key
    layout).

    The window-hash array is LET-BOUND (``let``): downstream callers
    explode ``keys``, and CollapseProject would otherwise re-inline the
    full tokenize→md5 chain into every per-element lambda reference —
    the VERDICT r3 #1 scale-killer (378 s at sf0.1; O(m·W) full-chain
    re-evaluations per row). Binding keeps the whole plan zero-shuffle:
    the corpus text never leaves the scan stage, and only selected
    (doc_id, key) rows exit."""
    from docling_api_spark.functions.hashing import let, tokens, window_hashes

    def build(wh):
        m = F.size(wh)
        keys = F.transform(
            F.sequence(F.lit(1), m - (_WINNOW_W - 1)),
            lambda j: F.array_min(
                F.transform(
                    F.sequence(j, j + (_WINNOW_W - 1)),
                    lambda p: F.element_at(wh, p.cast("int")) * _POS_BASE
                    + (_POS_BASE - p),
                )
            ),
        )
        return F.when(m >= _WINNOW_W, F.array_distinct(keys)).otherwise(
            F.array().cast("array<bigint>")
        )

    keyed = let(window_hashes(tokens(F.col("text")), _WINNOW_K), build)
    return docs.select("doc_id", keyed.alias("keys"))


_WINNOW_SHARED_MIN = 3


@query(
    "winnow_dup_pairs",
    # Fingerprint-based near-dup candidate pairs (the MOSS use of
    # winnowing): docs sharing >= 3 distinct winnowed k-gram
    # fingerprints, counted exactly. Spark side buckets BY FINGERPRINT
    # (self-join on fp — the only shuffle key; bucket sizes are
    # fingerprint-popularity-bounded, never corpus-wide) then counts
    # shared fps per pair; oracle = brute-force per-pair
    # list_intersect over the same per-doc fingerprint sets.
    oracle=f"""
        WITH {S.DUP_CORPUS_CTE.strip()},
        t AS (SELECT doc_id, {S.toks("text")} AS tk FROM dup_corpus),
        wh AS (
            SELECT doc_id,
                   [{S.md5long(f"array_to_string(tk[i:i+{_WINNOW_K - 1}],' ')")}
                    for i in range(1, len(tk) - {_WINNOW_K} + 2)] AS wh
            FROM t
        ),
        fps AS (
            SELECT doc_id,
                   list_distinct([
                       list_min([wh[p] * {_POS_BASE} + ({_POS_BASE} - p)
                                 for p in range(j, j + {_WINNOW_W})]) // {_POS_BASE}
                       for j in range(1, len(wh) - {_WINNOW_W} + 2)]) AS fps
            FROM wh
        )
        SELECT a.doc_id AS a, b.doc_id AS b,
               CAST(len(list_intersect(a.fps, b.fps)) AS BIGINT) AS shared
        FROM fps a JOIN fps b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.fps, b.fps)) >= {_WINNOW_SHARED_MIN}
    """,
)
def winnow_dup_pairs(spark, sf_dir):
    """Near-dup candidate pairs over the planted-duplicate corpus:
    >= 3 shared winnowed fingerprints, exact shared count."""
    from docling_api_spark.plans.dedup_q import dup_corpus

    keyed = _winnow_keyed(dup_corpus(spark, sf_dir))
    # pos-independent fingerprint set: strip the packed position lane
    fps = keyed.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform("keys", _unpack_fp)
            )
        ).alias("fp"),
    )
    # persist: the fingerprint self-join reads this tree from BOTH
    # sides — without the cache each side re-runs the whole winnow
    # chain (tokenize → md5 window hashes → sliding min). Cached rows
    # are narrow (doc_id, fp), ~2/(w+1) of the token count per doc.
    fps = fps.persist()
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= _WINNOW_SHARED_MIN)
    )


_CDC_K = 3    # boundary window (tokens)
_CDC_D = 64   # boundary divisor -> expected chunk ~64 tokens


@query(
    "content_defined_chunks",
    # Content-defined chunking (LBFS, Muthitacharoen et al. SOSP 2001;
    # the rsync family): a chunk boundary falls AFTER token p whenever
    # the k-token window hash ending at p is ≡ 0 mod D — boundaries
    # depend only on LOCAL content, so inserting text into a document
    # shifts chunk hashes only near the edit (unlike fixed-size
    # chunking, where one insertion rewrites every downstream chunk).
    # Emitting (start, len, chunk_hash) rows gives the content-
    # addressable chunk store its keys. Entirely higher-order Catalyst
    # expressions; only narrow chunk rows leave the scan.
    oracle=f"""
        WITH t AS (SELECT doc_id, {S.toks("text")} AS tk FROM documents),
        w AS (
            SELECT doc_id, tk, len(tk) AS n,
                   [p for p in range({_CDC_K}, len(tk) + 1)
                    if {S.md5long(f"array_to_string(tk[p-{_CDC_K - 1}:p],' ')")} % {_CDC_D} = 0] AS cuts
            FROM t
        ),
        c AS (
            SELECT doc_id, tk,
                   list_prepend(1, [c + 1 for c in cuts]) AS starts,
                   list_append(cuts, n) AS ends
            FROM w
        )
        SELECT doc_id,
               CAST(starts[i] AS BIGINT) AS start,
               CAST(ends[i] - starts[i] + 1 AS BIGINT) AS chunk_len,
               {S.md5long("array_to_string(tk[starts[i]:ends[i]],' ')")} AS chunk_hash
        FROM c, unnest(range(1, len(starts) + 1)) AS u(i)
        WHERE starts[i] <= ends[i]
    """,
)
def content_defined_chunks(spark, sf_dir):
    """Insert-robust (content-defined) token chunks per document with
    content-addressable chunk hashes."""
    from docling_api_spark.functions.hashing import md5_long, tokens, window_hashes

    d = load(spark, sf_dir, "documents")
    base = d.select("doc_id", tokens(F.col("text")).alias("tk")).select(
        "doc_id", "tk", window_hashes(F.col("tk"), _CDC_K).alias("wh")
    )
    n = F.size("tk")
    cuts = F.when(
        n >= _CDC_K,
        F.filter(
            F.sequence(F.lit(_CDC_K), n),
            lambda p: F.element_at(F.col("wh"), (p - (_CDC_K - 1)).cast("int"))
            % _CDC_D
            == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    starts = F.concat(F.array(F.lit(1)), F.transform(cuts, lambda c: c + 1))
    ends = F.concat(cuts, F.array(n))
    chunks = F.filter(
        F.zip_with(starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e"))),
        lambda c: c["s"] <= c["e"],
    )
    c = F.col("c")
    return (
        base.select("doc_id", "tk", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            c["s"].cast("long").alias("start"),
            (c["e"] - c["s"] + 1).cast("long").alias("chunk_len"),
            md5_long(
                F.array_join(F.slice("tk", c["s"], c["e"] - c["s"] + 1), " ")
            ).alias("chunk_hash"),
        )
    )


@query(
    "pmi_collocations",
    # Top bigram collocations by a PMI-monotone integer score:
    # rank(PMI) = rank(c_xy / (c_x * c_y)) for fixed corpus totals, so
    # score = (c_xy * 1e9) div (c_x * c_y) ranks identically to PMI
    # while staying pure BIGINT arithmetic — no float log to diverge
    # across engines. Counts ride along so every rank is auditable.
    oracle=f"""
        WITH t AS (SELECT {_TOKS} AS tok FROM documents),
        bg AS (SELECT tok[i] AS w1, tok[i+1] AS w2
               FROM t, UNNEST(range(1, len(tok))) AS r(i)),
        cxy AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY w1, w2),
        u AS (SELECT x.ux AS w, COUNT(*) AS c
              FROM t, UNNEST(tok) AS x(ux) GROUP BY x.ux)
        SELECT cxy.w1, cxy.w2, c_xy,
               ux.c AS c_x, uy.c AS c_y,
               (c_xy * 1000000000) // (ux.c * uy.c) AS pmi_scaled
        FROM cxy JOIN u ux ON ux.w = cxy.w1
                 JOIN u uy ON uy.w = cxy.w2
        WHERE c_xy >= 5
        ORDER BY pmi_scaled DESC, cxy.w1, cxy.w2
        LIMIT 20
    """,
)
def pmi_collocations(spark, sf_dir):
    """Bigram collocation mining (pointwise mutual information).

    Scale shape: one pass explodes adjacent-token pairs (zip_with of
    two slices — no index re-evaluation), bigram and unigram counts
    are two narrow hash aggregates, and the scoring join shuffles on
    the term key: the unigram table is an unbounded-cardinality
    aggregate (a web-scale token vocab is NOT ~10^7 — junk tokens
    push it into the billions), so it must never be force-broadcast;
    AQE still converts to broadcast at runtime when the measured size
    is actually small. The final top-20 is a TakeOrdered, never a
    global sort. (VERDICT r4 ask #5; pinned by
    tests/test_plan_contracts.py::test_vocab_joins_not_force_broadcast.)"""
    d = load(spark, sf_dir, "documents")
    tok = d.select(tokens(F.col("text")).alias("tok"))
    tok = tok.persist()  # feeds both the bigram and unigram aggregates
    bg = tok.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("tok"), 1, F.greatest(F.size("tok") - 1, F.lit(0))),
                F.slice(F.col("tok"), 2, F.greatest(F.size("tok") - 1, F.lit(0))),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    cxy = bg.groupBy("w1", "w2").agg(F.count("*").alias("c_xy"))
    uni = tok.select(F.explode("tok").alias("w")).groupBy("w").agg(
        F.count("*").alias("c")
    )
    scored = (
        cxy.filter(F.col("c_xy") >= 5)
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
        .select(
            "w1", "w2", "c_xy", "c_x", "c_y",
            F.expr("c_xy * 1000000000L div (c_x * c_y)").alias("pmi_scaled"),
        )
    )
    return scored.orderBy(
        F.col("pmi_scaled").desc(), "w1", "w2"
    ).limit(20)


@query(
    "tfidf_top_terms",
    # Per-doc top-3 keywords by an exactly-integer tf-idf: idf_scaled =
    # (N * 1e6) div df ranks identically to log(N/df) (div is monotone
    # decreasing in df for fixed N), score = tf * idf_scaled. Ties by
    # term asc so the per-doc top-3 is fully deterministic.
    oracle=f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS tok FROM documents),
        tf AS (SELECT doc_id, x.w, COUNT(*) AS tf
               FROM t, UNNEST(tok) AS x(w) GROUP BY doc_id, x.w),
        df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY w),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.w, tf.tf, df.df,
                   tf.tf * ((n.n_docs * 1000000) // df.df) AS score,
                   ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                      ORDER BY tf.tf * ((n.n_docs * 1000000) // df.df) DESC,
                                               tf.w) AS rn
            FROM tf JOIN df USING (w) CROSS JOIN n)
        SELECT doc_id, w AS term, CAST(tf AS BIGINT) AS tf,
               CAST(df AS BIGINT) AS df, CAST(score AS BIGINT) AS tfidf_scaled,
               rn AS rank
        FROM scored WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """Per-document keyword extraction (top-3 terms by tf-idf).

    Scale shape: term frequencies are one explode + hash agg on
    (doc_id, term); document frequencies aggregate the tf table (never
    re-scan the corpus); the idf join shuffles on the term key — the
    df table is an unbounded-cardinality aggregate (web-scale vocab),
    so it is never force-broadcast; AQE may still broadcast it at
    runtime when measured-small. The single-row n_docs aggregate IS
    broadcast (bounded by construction). The per-doc top-3 window
    partitions by doc_id, so no hot key exists and text never
    shuffles. (VERDICT r4 ask #5.)"""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    tf = tf.persist()  # feeds both the df aggregate and the scoring join
    df_tab = tf.groupBy("w").agg(F.count_distinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_tab, "w")
        .crossJoin(F.broadcast(n))
        .withColumn("score", F.expr("tf * ((n_docs * 1000000L) div df)"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("w"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            F.col("w").alias("term"),
            "tf",
            "df",
            F.col("score").alias("tfidf_scaled"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


@query(
    "ngram_diversity_stats",
    # Corpus-diversity audit (the Self-BLEU-family signal memorization
    # studies use): per-doc type-token ratio and distinct-trigram
    # ratio, both as integer ppm — a doc full of repeated phrases
    # scores low on both. NULL trigram ratio for docs under 3 tokens
    # (undefined, mirrored on both engines).
    oracle=f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS tok FROM documents)
        SELECT doc_id,
               len(tok) AS n_tokens,
               len(list_distinct(tok)) AS n_types,
               CAST(len(list_distinct(tok)) * 1000000 // len(tok) AS BIGINT) AS ttr_ppm,
               GREATEST(len(tok) - 2, 0) AS n_trigrams,
               len({S.shingles3("tok")}) AS n_distinct_trigrams,
               CASE WHEN len(tok) >= 3 THEN
                   CAST(len({S.shingles3("tok")}) * 1000000
                        // (len(tok) - 2) AS BIGINT)
               END AS trigram_diversity_ppm
        FROM t
    """,
)
def ngram_diversity_stats(spark, sf_dir):
    """Per-doc lexical-diversity stats: type-token ratio and distinct
    3-gram ratio (integer ppm, order-free).

    Scale shape: map-only — every stat is a pure projection over the
    scan (the shingle set is let-bound so it computes once per row),
    zero shuffles at any corpus size."""
    from docling_api_spark.functions.hashing import word_shingles

    d = load(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    t = d.select("doc_id", tok.alias("tok"))
    ntok = F.size("tok")
    ntypes = F.size(F.array_distinct("tok"))
    ntri = F.greatest(ntok - 2, F.lit(0))
    ndtri = F.size(word_shingles(F.col("tok"), 3))
    return t.select(
        "doc_id",
        ntok.alias("n_tokens"),
        ntypes.alias("n_types"),
        (ntypes.cast("long") * 1000000).alias("_tt"),
        ntri.alias("n_trigrams"),
        ndtri.alias("n_distinct_trigrams"),
        (ndtri.cast("long") * 1000000).alias("_td"),
    ).selectExpr(
        "doc_id",
        "n_tokens",
        "n_types",
        "_tt div n_tokens AS ttr_ppm",
        "n_trigrams",
        "n_distinct_trigrams",
        "CASE WHEN n_tokens >= 3 THEN _td div n_trigrams END AS trigram_diversity_ppm",
    )


@query(
    "c4_line_filters",
    # C4-style line/document hygiene (Raffel et al. 2020 §2.2): keep
    # only lines that end in terminal punctuation, have >= 3 words and
    # carry no policy boilerplate; drop whole docs containing '{' or
    # 'lorem ipsum'. The driver corpus has neither newlines nor
    # punctuation, so one deterministic line per doc_id % 5 residue is
    # injected to exercise every rule: policy line (dropped), short
    # line (dropped), proper sentence (kept), curly-brace line (doc
    # drop), lorem-ipsum line (doc drop). Line stats and the doc-drop
    # flag are reported independently (orthogonal signals).
    oracle="""
        WITH t AS (
            SELECT doc_id, text || CASE doc_id % 5
                WHEN 0 THEN chr(10) || 'Read our cookie policy and terms.'
                WHEN 1 THEN chr(10) || 'short line'
                WHEN 2 THEN chr(10) || 'This sentence ends with terminal punctuation.'
                WHEN 3 THEN chr(10) || 'curly { brace ahead.'
                ELSE chr(10) || 'lorem ipsum dolor sit amet.' END AS t0
            FROM documents
        ),
        k AS (
            SELECT doc_id, t0, string_split(t0, chr(10)) AS lns,
                   list_filter(string_split(t0, chr(10)), ln ->
                       regexp_matches(ln, '[.!?]$')
                       AND len(list_filter(string_split(ln, ' '), w -> w <> '')) >= 3
                       AND NOT contains(lower(ln), 'cookie policy')
                       AND NOT contains(lower(ln), 'terms of use')
                       AND NOT contains(lower(ln), 'javascript')) AS kept
            FROM t
        )
        SELECT doc_id,
               CAST(len(lns) AS BIGINT) AS n_lines,
               CAST(len(kept) AS BIGINT) AS n_kept,
               CAST(list_sum(list_prepend(0, list_transform(kept, x -> len(x))))
                    AS BIGINT) AS kept_chars,
               (contains(t0, '{') OR contains(lower(t0), 'lorem ipsum')) AS doc_dropped
        FROM k
    """,
)
def c4_line_filters(spark, sf_dir):
    """C4 line filters + doc-level blocklist, per-doc stats.

    Scale shape: pure projection — split/filter/aggregate are all
    array HOFs on the row, zero shuffles at any corpus size; the text
    column never leaves its scan partition."""
    d = load(spark, sf_dir, "documents")
    inj = (
        F.when(F.col("doc_id") % 5 == 0, F.lit("\nRead our cookie policy and terms."))
        .when(F.col("doc_id") % 5 == 1, F.lit("\nshort line"))
        .when(F.col("doc_id") % 5 == 2,
              F.lit("\nThis sentence ends with terminal punctuation."))
        .when(F.col("doc_id") % 5 == 3, F.lit("\ncurly { brace ahead."))
        .otherwise(F.lit("\nlorem ipsum dolor sit amet."))
    )
    t = d.select("doc_id", F.concat(F.col("text"), inj).alias("t0"))

    def _keep(ln):
        return (
            ln.rlike("[.!?]$")
            & (F.size(F.filter(F.split(ln, " "), lambda w: w != "")) >= 3)
            & ~F.lower(ln).contains("cookie policy")
            & ~F.lower(ln).contains("terms of use")
            & ~F.lower(ln).contains("javascript")
        )

    # `kept` is referenced twice (size + aggregate), so the split+rlike
    # chain evaluates twice per row — a bounded constant factor on a
    # zero-shuffle map query, NOT the per-element quadratic class of
    # VERDICT r3 #1 (no lambda re-inlines it per element), so plain
    # references stay clearer than a let-bound struct whose fields
    # would re-inline anyway (one Project per output column).
    lns = F.split(F.col("t0"), "\n")
    kept = F.filter(lns, _keep)
    return t.select(
        "doc_id",
        F.size(lns).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.aggregate(kept, F.lit(0).cast("long"), lambda a, x: a + F.length(x)).alias(
            "kept_chars"
        ),
        (F.col("t0").contains("{") | F.lower(F.col("t0")).contains("lorem ipsum")).alias(
            "doc_dropped"
        ),
    )


@query(
    "repetition_ngram_fractions",
    # Gopher repetition signals (Rae et al. 2021, Table A1): characters
    # covered by the single most-frequent 3-gram, and characters covered
    # by all duplicated 5-grams (count>=2, counted per occurrence).
    # Integer ppm lanes so the cross-engine hash is division-exact.
    oracle=f"""
        WITH t AS (SELECT doc_id, len(text) AS n_chars_text, {_TOKS} AS tok
                   FROM documents),
        g3 AS (SELECT doc_id, g, COUNT(*) AS c FROM (
                   SELECT doc_id,
                          unnest([tok[i]||' '||tok[i+1]||' '||tok[i+2]
                                  for i in range(1, len(tok)-1)]) AS g
                   FROM t) GROUP BY doc_id, g),
        g5 AS (SELECT doc_id, g, COUNT(*) AS c FROM (
                   SELECT doc_id,
                          unnest([tok[i]||' '||tok[i+1]||' '||tok[i+2]||' '||tok[i+3]||' '||tok[i+4]
                                  for i in range(1, len(tok)-3)]) AS g
                   FROM t) GROUP BY doc_id, g),
        t3 AS (SELECT doc_id, MAX(c * len(g)) AS top FROM g3 GROUP BY doc_id),
        d5 AS (SELECT doc_id, SUM(c * len(g)) AS dup FROM g5 WHERE c >= 2
               GROUP BY doc_id)
        SELECT t.doc_id, CAST(n_chars_text AS BIGINT) AS n_chars_text,
               CAST(COALESCE(top, 0) AS BIGINT) AS top_trigram_chars,
               CAST(COALESCE(dup, 0) AS BIGINT) AS dup_5gram_chars,
               CAST(COALESCE(top, 0) * 1000000 // n_chars_text AS BIGINT)
                   AS top_trigram_ppm,
               CAST(COALESCE(dup, 0) * 1000000 // n_chars_text AS BIGINT)
                   AS dup_5gram_ppm
        FROM t LEFT JOIN t3 USING (doc_id) LEFT JOIN d5 USING (doc_id)
    """,
)
def repetition_ngram_fractions(spark, sf_dir):
    """Gopher-style repetition fractions: top-3-gram char coverage and
    duplicated-5-gram char coverage, as integer ppm of doc chars.

    Scale shape: explode → (doc_id, gram) hash-agg → doc_id re-agg;
    gram rows are narrow (id + short string), the text column never
    shuffles. Two shuffles per n-gram leg, both partial+final; the
    final three-way join is doc_id-keyed and co-partitioned with the
    re-agg output. Linear in corpus tokens (the zero-shuffle HOF
    alternative is O(len^2) per doc and loses on long docs). The token
    array is LET-BOUND (functions.hashing.let): every per-element
    F.get inside the gram lambda reads the bound variable — an
    inlined tokens(text) there is the quadratic Generate shape of
    VERDICT r3 #1 (re-tokenize per gram element), pinned by a plan
    contract."""
    from docling_api_spark.functions.hashing import let

    d = load(spark, sf_dir, "documents")

    def grams(n):
        def build(tok):
            return F.when(
                F.size(tok) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(tok) - n),
                    lambda i: F.concat_ws(
                        " ", *[F.get(tok, i + j) for j in range(n)]
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))

        return let(tokens(F.col("text")), build)

    def counted(n):
        return (
            d.select("doc_id", F.explode(grams(n)).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count("*").alias("c"))
        )

    top3 = counted(3).groupBy("doc_id").agg(
        F.max(F.col("c") * F.length("g")).alias("top")
    )
    dup5 = (
        counted(5)
        .filter(F.col("c") >= 2)
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.length("g")).alias("dup"))
    )
    base = d.select("doc_id", F.length("text").cast("long").alias("n_chars_text"))
    out = base.join(top3, "doc_id", "left").join(dup5, "doc_id", "left")
    return out.select(
        "doc_id",
        "n_chars_text",
        F.coalesce(F.col("top"), F.lit(0)).cast("long").alias("top_trigram_chars"),
        F.coalesce(F.col("dup"), F.lit(0)).cast("long").alias("dup_5gram_chars"),
    ).selectExpr(
        "doc_id",
        "n_chars_text",
        "top_trigram_chars",
        "dup_5gram_chars",
        "top_trigram_chars * 1000000 div n_chars_text AS top_trigram_ppm",
        "dup_5gram_chars * 1000000 div n_chars_text AS dup_5gram_ppm",
    )
