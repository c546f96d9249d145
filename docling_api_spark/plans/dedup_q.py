"""Deduplication queries over a planted-duplicate corpus.

The driver's `documents` table has no natural duplicates, so each
query derives a deterministic dup-corpus with pure column ops (exact
copies of every 10th doc, 3-token-suffix near-copies of docs ≡5 mod
10) — the identical construction is a CTE in the oracle SQL, so both
engines see the same input.

Oracle strength note: `dedup_minhash_pairs`'s oracle is the
*brute-force* pairwise Jaccard ≥ τ — the semantic ground truth, not a
SQL transliteration of LSH. The Spark side must therefore achieve
perfect recall/precision on this corpus for the hashes to match
(precision is guaranteed by the exact verification stage; recall by
32 hashes × 16 bands at the planted similarity levels, miss
probability < 1e-14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_api_spark.operators.dedup import (
    dedup_exact as _dedup_exact,
)
from docling_api_spark.operators.dedup import (
    dedup_minhash,
    jaccard_to_reference,
)
from docling_api_spark.plans import _sql as S
from docling_api_spark.plans.registry import query
from docling_api_spark.sources.catalog import load

_TOKS = S.toks("text")


def dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + planted exact/near duplicates (twin:
    _sql.DUP_CORPUS_CTE)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    exact = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near = d.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near dup tail")).alias("text"),
    )
    return d.unionByName(exact).unionByName(near)


@query(
    "dedup_exact",
    oracle=f"""
        WITH {S.DUP_CORPUS_CTE.strip()}
        SELECT {S.md5long("text")} AS content_hash,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS n_copies
        FROM dup_corpus
        GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy, min-id survivor (the first, cheapest
    pass of a 100 TB dedup cascade)."""
    return _dedup_exact(dup_corpus(spark, sf_dir))


@query(
    "dedup_minhash_pairs",
    oracle=f"""
        WITH {S.DUP_CORPUS_CTE.strip()},
        sh AS (SELECT doc_id, {S.shingles3(_TOKS)} AS sh FROM dup_corpus)
        SELECT a.doc_id AS a, b.doc_id AS b,
               ROUND(len(list_intersect(a.sh, b.sh)) /
                     CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 4) AS jac
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) /
              CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.8
    """,
)
def dedup_minhash_pairs(spark, sf_dir):
    """MinHash+LSH near-dup pairs, exact-Jaccard verified ≥ 0.8.
    Oracle = brute-force ground truth (see module docstring)."""
    return dedup_minhash(dup_corpus(spark, sf_dir), threshold=0.8)


@query(
    "ngram_jaccard_ref",
    oracle=f"""
        WITH sh AS (SELECT doc_id, {S.shingles3(_TOKS)} AS sh FROM documents),
             r AS (SELECT sh AS ref_sh FROM sh WHERE doc_id = 0)
        SELECT doc_id,
               ROUND(len(list_intersect(sh, ref_sh)) /
                     CAST(len(list_distinct(sh || ref_sh)) AS DOUBLE), 4) AS jac
        FROM sh CROSS JOIN r
    """,
)
def ngram_jaccard_ref(spark, sf_dir):
    """Linear 3-gram Jaccard of every doc vs doc 0 (the similarity
    measure itself, SQL-checkable without pairwise blowup)."""
    return jaccard_to_reference(load(spark, sf_dir, "documents"), ref_id=0)


@query(
    "simhash_dup_pairs",
    # Hamming-radius near-dup via pigeonhole banding: 60-bit SimHash,
    # 4 bands of 15 bits — any pair within Hamming distance 3 shares at
    # least one intact band (pigeonhole), so banded candidates + exact
    # bit_count verify is lossless for r<=3. 15-bit bands give 32k
    # buckets, so random-collision candidate pairs shrink ~128× vs
    # 8-bit bands (the width is what scales: at 10^12 docs you'd run
    # 128-bit signatures with 32-bit bands). Oracle = brute force.
    oracle=f"""
        WITH {S.DUP_CORPUS_CTE.strip()},
        sig AS (SELECT doc_id, {S.simhash60(S.toks("text"))} AS sig FROM dup_corpus)
        SELECT a.doc_id AS a, b.doc_id AS b,
               bit_count(xor(a.sig, b.sig)) AS ham
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= 3
    """,
)
def simhash_dup_pairs(spark, sf_dir):
    from pyspark.sql import functions as F

    from docling_api_spark.functions.hashing import (
        hamming32,
        md5_long60,
        simhash_from_hashes,
        tokens,
    )

    corpus = dup_corpus(spark, sf_dir)
    hashed = corpus.select(
        "doc_id", F.transform(tokens(F.col("text")), md5_long60).alias("th")
    )
    # persist the signatures: the banded self-join reads this tree from
    # BOTH sides, and without the cache each side re-hashes every token
    # (the md5 pass is ~all of the query's CPU; same pattern as the
    # minhash shingle table)
    sig = hashed.select(
        "doc_id", simhash_from_hashes(F.col("th"), bits=60).alias("sig")
    ).persist()
    # pigeonhole bands: r=3 < 4 bands → every true pair collides somewhere
    bands = sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sig", b * 15).bitwiseAND(F.lit(0x7FFF)).alias("bkey"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    l, r = bands.alias("l"), bands.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            hamming32(F.col("l.sig"), F.col("r.sig")).alias("ham"),
        )
        .dropDuplicates(["a", "b"])
    )
    return cands.filter(F.col("ham") <= 3)


@query(
    "dedup_cascade_survivors",
    # the production dedup CASCADE (cheap→expensive): exact hash pass
    # shrinks the corpus, MinHash-LSH near-dup pass runs on the
    # survivors, smaller id survives each near-dup pair. Output = the
    # final surviving corpus. Oracle = same exact pass + brute-force
    # Jaccard ground truth for the near pass.
    oracle=f"""
        WITH {S.DUP_CORPUS_CTE.strip()},
        ex AS (SELECT MIN(doc_id) AS doc_id FROM dup_corpus
               GROUP BY {S.md5long("text")}),
        s AS (SELECT c.doc_id, c.text FROM dup_corpus c
              JOIN ex ON ex.doc_id = c.doc_id),
        sh AS (SELECT doc_id, {S.shingles3(_TOKS)} AS sh FROM s),
        losers AS (
            SELECT DISTINCT b.doc_id
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh)) /
                  CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.8
        )
        SELECT doc_id FROM s
        WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    """,
)
def dedup_cascade_survivors(spark, sf_dir):
    corpus = dup_corpus(spark, sf_dir)
    exact = _dedup_exact(corpus)
    survivors = corpus.join(
        exact.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    )
    near_pairs = dedup_minhash(survivors, threshold=0.8)
    losers = near_pairs.select(F.col("b").alias("doc_id")).distinct()
    return survivors.join(losers, "doc_id", "left_anti").select("doc_id")


# Derived multi-line corpus for line-level dedup: the driver documents
# are single-line, so inject deterministic structure — a newline after
# every 8th word plus a shared cookie-banner header and copyright
# footer (df = all docs), the classic boilerplate the HTML strip can't
# catch because it arrives inside the main content. Same regex both
# engines.
_BOILER_HEAD = "please accept our cookie policy to continue"
_BOILER_FOOT = "copyright corpus site all rights reserved"


@query(
    "boilerplate_line_dedup",
    # CCNet/RefinedWeb-style line-level boilerplate removal: lines in
    # > max_df distinct docs are dropped, docs rebuilt in line order.
    # The oracle replays the SAME md5-prefix-32 line-hash grouping, so
    # semantics (including any 32-bit collision) match by definition.
    oracle=f"""
        WITH der AS (
            SELECT doc_id,
                   '{_BOILER_HEAD}' || chr(10) ||
                   regexp_replace(text, '((?:\\w+ ){{7}}\\w+) ', '\\1' || chr(10), 'g') ||
                   chr(10) || '{_BOILER_FOOT}' AS t2
            FROM documents
        ),
        p AS (SELECT doc_id, string_split(t2, chr(10)) AS parts FROM der),
        l0 AS (
            SELECT doc_id, unnest([{{'pos': i, 'line': parts[i]}}
                                   for i in range(1, len(parts)+1)],
                                  recursive := true)
            FROM p
        ),
        l AS (SELECT doc_id, pos, line, {S.md5long("line")} AS h FROM l0),
        ldf AS (SELECT h, COUNT(DISTINCT doc_id) AS line_df FROM l GROUP BY h)
        SELECT l.doc_id,
               COALESCE(string_agg(CASE WHEN ldf.line_df <= 100 THEN l.line END,
                                   chr(10) ORDER BY l.pos), '') AS clean_text,
               CAST(SUM(CASE WHEN ldf.line_df > 100 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_removed
        FROM l JOIN ldf USING (h)
        GROUP BY l.doc_id
    """,
)
def boilerplate_line_dedup_q(spark, sf_dir):
    """Line-level boilerplate dedup gate: derived multi-line corpus →
    operators.dedup.boilerplate_line_dedup → per-doc cleaned text +
    removed-line count. Every doc loses exactly its two planted
    boilerplate lines (plus any naturally-repeated short remainder)."""
    from docling_api_spark.operators.dedup import boilerplate_line_dedup

    d = load(spark, sf_dir, "documents")
    der = d.select(
        "doc_id",
        F.concat(
            F.lit(_BOILER_HEAD + "\n"),
            F.regexp_replace("text", r"((?:\w+ ){7}\w+) ", "$1\n"),
            F.lit("\n" + _BOILER_FOOT),
        ).alias("text"),
    )
    return boilerplate_line_dedup(der, max_df=100).select(
        F.col("id").alias("doc_id"), "clean_text", "n_removed"
    )


@query(
    "benchmark_decontamination",
    # 13-gram benchmark decontamination (standard training-data
    # hygiene): the eval set is docs 0-4's text; a training doc is
    # contaminated iff it shares any distinct 13-word shingle with the
    # eval set. Output covers ALL docs so clean + contaminated counts
    # are both gated.
    oracle=f"""
        WITH ev AS (
            SELECT DISTINCT {S.md5long("g")} AS h
            FROM (SELECT unnest({S.shingles(S.toks("text"), 13)}) AS g
                  FROM documents WHERE doc_id < 5)
        ),
        cg AS (
            SELECT doc_id, {S.md5long("g")} AS h
            FROM (SELECT doc_id, unnest({S.shingles(S.toks("text"), 13)}) AS g
                  FROM documents)
        ),
        hits AS (
            SELECT cg.doc_id, COUNT(DISTINCT cg.h) AS n_hits
            FROM cg JOIN ev USING (h) GROUP BY cg.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(hits.n_hits, 0) AS BIGINT) AS n_hits,
               COALESCE(hits.n_hits, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits ON hits.doc_id = d.doc_id
    """,
)
def benchmark_decontamination(spark, sf_dir):
    from docling_api_spark.operators.dedup import decontaminate_against

    d = load(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") < 5).select("text")
    return decontaminate_against(d, ev, n=13).select(
        F.col("id").alias("doc_id"), "n_hits", "contaminated"
    )


@query(
    "curation_pipeline_audit",
    # the COMPOSED curation cascade (operators/curate.py): exact dedup
    # → MinHash near-dup → line cleanup (no-op on this single-line
    # corpus) → quality filter → 13-gram decontamination vs docs 0-4.
    # One row per input doc with the stage that dropped it — the audit
    # view a production curation run reports. Oracle chains the same
    # ground-truth constructions the individual gates use.
    oracle=f"""
        WITH {S.DUP_CORPUS_CTE.strip()},
        ex AS (SELECT MIN(doc_id) AS id FROM dup_corpus
               GROUP BY {S.md5long("text")}),
        s1 AS (SELECT c.doc_id AS id, c.text FROM dup_corpus c
               JOIN ex ON ex.id = c.doc_id),
        sh AS (SELECT id, {S.shingles3(_TOKS)} AS sh FROM s1),
        losers AS (
            SELECT DISTINCT b.id FROM sh a JOIN sh b ON a.id < b.id
            WHERE len(list_intersect(a.sh, b.sh)) /
                  CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.8
        ),
        s2 AS (SELECT id, text FROM s1
               WHERE id NOT IN (SELECT id FROM losers)),
        q AS (
            SELECT id, text,
                   ROUND(0.5 * LEAST(len({_TOKS}) / 100.0, 1.0) +
                         0.5 * (len(list_filter({_TOKS},
                                    x -> list_contains({{stops}}, x))) /
                                CAST(len({_TOKS}) AS DOUBLE)), 4) AS quality
            FROM s2
        ),
        ev AS (
            SELECT DISTINCT {S.md5long("g")} AS h
            FROM (SELECT unnest({S.shingles(S.toks("text"), 13)}) AS g
                  FROM documents WHERE doc_id < 5)
        ),
        cg AS (SELECT id, {S.md5long("g")} AS h
               FROM (SELECT id, unnest({S.shingles(S.toks("text"), 13)}) AS g
                     FROM s2)),
        contam AS (SELECT DISTINCT cg.id FROM cg JOIN ev USING (h)),
        survivors AS (
            SELECT q.id, q.quality,
                   q.id IN (SELECT id FROM contam) AS contaminated
            FROM q
        )
        SELECT c.doc_id AS id,
               s.quality,
               CASE WHEN s.id IS NULL THEN 'dedup'
                    WHEN s.quality < 0.3 THEN 'quality'
                    WHEN s.contaminated THEN 'decontamination'
                    END AS drop_stage,
               CASE WHEN s.id IS NULL THEN FALSE
                    WHEN s.quality < 0.3 THEN FALSE
                    WHEN s.contaminated THEN FALSE
                    ELSE TRUE END AS kept
        FROM dup_corpus c LEFT JOIN survivors s ON s.id = c.doc_id
    """.replace("{stops}", repr(["the", "a", "of", "and", "to", "in"])),
)
def curation_pipeline_audit(spark, sf_dir):
    from docling_api_spark.operators.curate import curate_corpus

    corpus = dup_corpus(spark, sf_dir)
    ev = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 5).select("text")
    staged = curate_corpus(
        corpus, quality_threshold=0.3, near_threshold=0.8,
        line_df_cap=100, eval_texts=ev,
    )
    return staged.select("id", "quality", "drop_stage", "kept")


_N_SUB = 20  # exact-substring window length (tokens)

# shared CTE chain for the ExactSubstr pair: tokenized corpus (b2) →
# positional window hashes (win) → recurring windows (dup) → marked
# positions (m) → merged per-doc spans (sp)
_SPANS_CTES = f"""
        base AS (SELECT doc_id, {_TOKS} AS t FROM dup_corpus),
        b2 AS (SELECT doc_id, len(t) AS n_tokens, t FROM base),
        win AS (
            SELECT doc_id, i AS pos,
                   {S.md5long(f"array_to_string(t[i:i+{_N_SUB - 1}], ' ')")} AS h
            FROM b2, unnest(range(1, CAST(n_tokens - {_N_SUB} + 2 AS BIGINT))) AS u(i)
        ),
        dup AS (SELECT h FROM win GROUP BY h HAVING COUNT(*) > 1),
        m AS (SELECT w.doc_id, w.pos FROM win w JOIN dup USING (h)),
        g AS (SELECT doc_id, pos,
                     MAX(pos + {_N_SUB}) OVER (
                         PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ) AS prev_e
              FROM m),
        g2 AS (SELECT doc_id, pos,
                      SUM(CASE WHEN prev_e IS NULL OR pos > prev_e
                               THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY pos) AS grp
               FROM g),
        sp AS (SELECT doc_id, grp, MIN(pos) AS s, MAX(pos) + {_N_SUB} AS e,
                      COUNT(*) AS nw
               FROM g2 GROUP BY doc_id, grp)"""


def _substring_spans(base):
    """Merged duplicated-window spans (doc_id, s, e, nw) from a base
    frame carrying ``wh`` (positional window hashes) — the Spark twin
    of _SPANS_CTES' win→sp chain."""
    from pyspark.sql import Window as W

    win = base.select(
        "doc_id", F.posexplode("wh").alias("j", "h")
    ).select("doc_id", (F.col("j") + 1).alias("pos"), "h")
    dup = win.groupBy("h").agg(F.count("*").alias("cnt")).filter(F.col("cnt") > 1)
    marked = win.join(dup.select("h"), "h").select("doc_id", "pos")
    w_order = W.partitionBy("doc_id").orderBy("pos")
    prev_e = F.max(F.col("pos") + _N_SUB).over(
        w_order.rowsBetween(W.unboundedPreceding, -1)
    )
    g2 = marked.withColumn(
        "grp",
        F.sum(
            F.when(prev_e.isNull() | (F.col("pos") > prev_e), 1).otherwise(0)
        ).over(w_order.rowsBetween(W.unboundedPreceding, 0)),
    )
    return g2.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + _N_SUB).alias("e"),
        F.count("*").alias("nw"),
    )


@query(
    "exact_substring_spans",
    # the ExactSubstr dedup family (Lee et al. 2021, "Deduplicating
    # Training Data Makes Language Models Better"): a span is
    # duplicated if its 20-token window recurs ANYWHERE in the corpus
    # (position-sensitive windows, not shingle sets). Per doc: merged
    # duplicated spans + coverage. The planted corpus makes exact
    # copies cover 1.0 and near-copies cover their shared prefix; the
    # min-10-token docs exercise the no-window guard.
    oracle=f"""
        WITH {S.DUP_CORPUS_CTE.strip()},{_SPANS_CTES},
        pd AS (SELECT doc_id,
                      COUNT(*) AS n_spans,
                      CAST(SUM(e - s) AS BIGINT) AS n_covered,
                      CAST(SUM(nw) AS BIGINT) AS n_dup_windows
               FROM sp GROUP BY doc_id)
        SELECT b2.doc_id,
               CAST(n_tokens AS INT) AS n_tokens,
               CAST(COALESCE(n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
               CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
               CAST(COALESCE(n_covered, 0) AS BIGINT) AS n_covered,
               ROUND(COALESCE(n_covered, 0) / CAST(n_tokens AS DOUBLE), 4)
                   AS dup_ratio
        FROM b2 LEFT JOIN pd USING (doc_id)
    """,
)
def exact_substring_spans(spark, sf_dir):
    """Exact-substring dedup (position-sensitive): mark every token
    span whose 20-token window recurs anywhere in the corpus, merge
    overlapping/touching windows per doc, report coverage. The family
    MinHash can't express — it catches a copied paragraph inside an
    otherwise-unique doc.

    Scale shape: window rows are narrow (h:long, doc_id, pos) — text
    never rides the shuffle; the recurrence count is a map-side-
    combinable groupBy on h; the span merge windows partition by
    doc_id (parallel, bounded by doc length). At 100 TB the shuffle
    volume is tokens x 16 bytes — the known, accepted cost of the
    ExactSubstr family (suffix-array runs pay the same pass)."""
    from docling_api_spark.functions.hashing import tokens, window_hashes

    c = dup_corpus(spark, sf_dir)
    t = tokens(F.col("text"))
    base = c.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        window_hashes(t, _N_SUB).alias("wh"),
    )
    # persist: the doc-summary left join AND the window explode both
    # read this subtree; without the cache the tokenize+hash pass runs
    # twice (same discipline as the minhash shingle table)
    base = base.persist()
    spans = _substring_spans(base)
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).alias("n_covered"),
        F.sum("nw").alias("n_dup_windows"),
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_covered", F.lit(0)).alias("n_covered"),
            F.round(
                F.coalesce("n_covered", F.lit(0)) / F.col("n_tokens").cast("double"), 4
            ).alias("dup_ratio"),
        )
    )


@query(
    "exact_substring_remove",
    # companion to exact_substring_spans: rebuild each doc with every
    # duplicated span cut (policy: remove from ALL occurrences — the
    # keep-one-occurrence variant is a survivor join away and
    # orthogonal to the rebuild mechanics tested here). Exact copies
    # empty out entirely; near-copies keep only their unique tail.
    oracle=f"""
        WITH {S.DUP_CORPUS_CTE.strip()},{_SPANS_CTES},
        tok2 AS (SELECT doc_id, i, t[i] AS tok
                 FROM b2, unnest(range(1, CAST(n_tokens + 1 AS BIGINT))) AS u(i)),
        keptt AS (SELECT tok2.doc_id, i, tok
                  FROM tok2 LEFT JOIN sp ON tok2.doc_id = sp.doc_id
                                         AND i >= sp.s AND i < sp.e
                  WHERE sp.s IS NULL),
        kd AS (SELECT doc_id, COUNT(*) AS n_kept,
                      string_agg(tok, ' ' ORDER BY i) AS kept_text
               FROM keptt GROUP BY doc_id)
        SELECT b2.doc_id,
               CAST(n_tokens AS INT) AS n_tokens,
               CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
               COALESCE(kept_text, '') AS kept_text
        FROM b2 LEFT JOIN kd USING (doc_id)
    """,
)
def exact_substring_remove(spark, sf_dir):
    """ExactSubstr removal pass: cut every duplicated 20-token span
    from the text (Lee et al. 2021's dedup applied to the corpus
    rebuild, not just the report).

    Scale shape: the span table is tiny relative to the corpus
    (one row per merged dup span); it comes back to the documents as a
    collect_list per doc_id (bounded by doc length) and the cut is
    per-row array work — the document text itself never enters an
    Exchange, unlike the oracle's token-unnest anti-join twin which is
    the SQL-expressible but shuffle-heavy formulation."""
    from docling_api_spark.functions.hashing import tokens, window_hashes

    c = dup_corpus(spark, sf_dir)
    tk = tokens(F.col("text"))
    base = c.select(
        "doc_id",
        tk.alias("t"),
    ).select(
        "doc_id",
        "t",
        F.size("t").alias("n_tokens"),
        window_hashes(F.col("t"), _N_SUB).alias("wh"),
    )
    base = base.persist()
    spans = _substring_spans(base)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct(F.col("s"), F.col("e"))).alias("spans")
    )
    empty_spans = F.array().cast("array<struct<s:int,e:int>>")
    joined = base.join(per_doc, "doc_id", "left").withColumn(
        "spans", F.coalesce("spans", empty_spans)
    )
    covered = lambda i: F.exists(  # noqa: E731 — i is the outer lambda var
        F.col("spans"), lambda sp: (i >= sp["s"]) & (i < sp["e"])
    )
    kept = F.filter(F.col("t"), lambda x, j: ~covered(j + 1))
    return joined.select(
        "doc_id",
        "n_tokens",
        F.size(kept).cast("bigint").alias("n_kept"),
        F.array_join(kept, " ").alias("kept_text"),
    )


@query(
    "dedup_best_representative",
    # Quality-aware survivor selection: connected components over the
    # VERIFIED near-dup relation (Jaccard >= 0.8 — so exact copies AND
    # tail-suffixed near copies cluster together), then keep the
    # highest-token-count member per cluster, doc_id ascending as the
    # tie-break. This is the curation-cascade policy that keeps the
    # LONGEST copy (near-dup tails win over their originals), not the
    # first — genuinely different output from dedup_clusters' min-id
    # rule. Oracle = recursive-CTE closure over brute-force pairwise
    # Jaccard (semantic ground truth, not an LSH transliteration) +
    # the same window argmax.
    oracle=f"""
        WITH RECURSIVE {S.DUP_CORPUS_CTE.strip()},
        sh AS (SELECT doc_id, {S.shingles3(_TOKS)} AS sh FROM dup_corpus),
        e AS (
            SELECT a.doc_id AS src, b.doc_id AS dst
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh)) /
                  CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.8
        ),
        sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        reach(a, b) AS (
            SELECT src, dst FROM sym
            UNION
            SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
        ),
        lab AS (
            SELECT c.doc_id,
                   LEAST(c.doc_id, COALESCE(MIN(r.b), c.doc_id)) AS cluster
            FROM dup_corpus c LEFT JOIN reach r ON r.a = c.doc_id
            GROUP BY c.doc_id
        ),
        q AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
              FROM dup_corpus),
        ranked AS (
            SELECT l.cluster, l.doc_id, q.n_tokens,
                   ROW_NUMBER() OVER (PARTITION BY l.cluster
                                      ORDER BY q.n_tokens DESC, l.doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY l.cluster) AS cnt
            FROM lab l JOIN q USING (doc_id)
        )
        SELECT cluster, doc_id AS rep_id, n_tokens AS rep_tokens,
               CAST(cnt AS BIGINT) AS n_members
        FROM ranked WHERE rn = 1
    """,
)
def dedup_best_representative(spark, sf_dir):
    """One row per near-dup cluster: the highest-quality (longest,
    doc_id-ascending tie-break) member as the kept representative.

    Scale shape: edges come from the verified MinHash-LSH pipeline
    (banded buckets, candidates-only verification — never all-pairs);
    labels propagate over narrow (id, label) rows; quality is a
    codegen token count; the argmax is ONE hash aggregate on the
    cluster label (max_by + count with map-side partial aggregation —
    each task collapses its members to one candidate row before the
    shuffle), not a window: a per-cluster row_number would shuffle
    EVERY member row and sort per key just to keep one."""
    from docling_api_spark.functions.hashing import tokens
    from docling_api_spark.operators.asof import connected_components_star

    corpus = dup_corpus(spark, sf_dir)
    pairs = dedup_minhash(corpus, threshold=0.8).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    nodes = corpus.select(F.col("doc_id").alias("id"))
    # star CC (large-star/small-star): diameter-independent — exact
    # components on ANY topology (matches the transitive-closure
    # oracle even on A~B~C chains), and each round touches only the
    # shrinking edge set, so the fixed per-job scheduling cost that
    # dominated the propagation variant at gate scale (BASELINE r4
    # profile: ~6.8 s over a 1,349-edge graph) is paid fewer times.
    lab = connected_components_star(pairs, nodes).alias("lab")
    q = corpus.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    ).alias("q")
    m = lab.join(q, F.col("lab.id") == F.col("q.doc_id")).select(
        F.col("q.doc_id").alias("doc_id"),
        F.col("lab.label").alias("cluster"),
        F.col("q.n_tokens").alias("n_tokens"),
    )
    # argmax = max_by over (n_tokens DESC, doc_id ASC) — encoded as
    # max of struct(n_tokens, -doc_id); doc_id is unique per cluster,
    # so the ordering is total and the pick deterministic
    best = F.max_by(
        F.struct(F.col("doc_id"), F.col("n_tokens")),
        F.struct(F.col("n_tokens"), (-F.col("doc_id")).alias("neg_id")),
    )
    return (
        m.groupBy("cluster")
        .agg(best.alias("rep"), F.count("*").alias("cnt"))
        .select(
            "cluster",
            F.col("rep.doc_id").alias("rep_id"),
            F.col("rep.n_tokens").alias("rep_tokens"),
            F.col("cnt").cast("long").alias("n_members"),
        )
    )


@query(
    "corpus_snapshot_diff",
    # Snapshot diff between two corpus versions (the ops primitive for
    # incremental re-processing: only 'added'/'changed' docs re-enter
    # the pipeline). Both sides project to narrow (doc_id, hash32)
    # BEFORE the full-outer join, so the shuffle never carries text —
    # the same narrow-key discipline as dedup_exact. v2 is a
    # deterministic twin CTE (drop %17=2, edit %10=5, add %20=0 under
    # new ids).
    oracle=f"""
        WITH v2 AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 10 = 5 THEN text || ' v2' ELSE text END AS text
            FROM documents WHERE doc_id % 17 <> 2
            UNION ALL
            SELECT doc_id + 3000000 AS doc_id, text || ' brand new' AS text
            FROM documents WHERE doc_id % 20 = 0
        ),
        h1 AS (SELECT doc_id, {S.md5long("text")} AS h FROM documents),
        h2 AS (SELECT doc_id, {S.md5long("text")} AS h FROM v2)
        SELECT COALESCE(h1.doc_id, h2.doc_id) AS doc_id,
               CASE WHEN h1.doc_id IS NULL THEN 'added'
                    WHEN h2.doc_id IS NULL THEN 'removed'
                    ELSE 'changed' END AS change
        FROM h1 FULL OUTER JOIN h2 ON h1.doc_id = h2.doc_id
        WHERE h1.doc_id IS NULL OR h2.doc_id IS NULL OR h1.h <> h2.h
    """,
)
def corpus_snapshot_diff(spark, sf_dir):
    """added/removed/changed docs between corpus v1 and the derived v2
    snapshot, by 32-bit content hash over narrow (id, hash) rows."""
    from docling_api_spark.functions.hashing import md5_long

    v1 = load(spark, sf_dir, "documents").select("doc_id", "text")
    v2 = (
        v1.filter(F.col("doc_id") % 17 != 2)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 10 == 5, F.concat("text", F.lit(" v2")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            v1.filter(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + 3000000).alias("doc_id"),
                F.concat("text", F.lit(" brand new")).alias("text"),
            )
        )
    )
    h1 = v1.select("doc_id", md5_long(F.col("text")).alias("h")).alias("h1")
    h2 = v2.select("doc_id", md5_long(F.col("text")).alias("h")).alias("h2")
    j = h1.join(h2, F.col("h1.doc_id") == F.col("h2.doc_id"), "full_outer")
    return j.filter(
        F.col("h1.doc_id").isNull()
        | F.col("h2.doc_id").isNull()
        | (F.col("h1.h") != F.col("h2.h"))
    ).select(
        F.coalesce("h1.doc_id", "h2.doc_id").alias("doc_id"),
        F.when(F.col("h1.doc_id").isNull(), F.lit("added"))
        .when(F.col("h2.doc_id").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change"),
    )


@query(
    "incremental_near_dup",
    # Batch-vs-corpus near-dup (the daily-ingest shape): the planted
    # docs (id >= 1e6 — exact copies and near-dup tails) arrive as the
    # NEW batch and probe the base corpus (id < 1e6). Oracle =
    # brute-force cross-side Jaccard ground truth, not an LSH
    # transliteration, so a band-recall bug fails the row. With 32
    # hashes / 16 bands, P(miss | jac >= 0.8) < 1e-7 per pair.
    oracle=f"""
        WITH {S.DUP_CORPUS_CTE.strip()},
        sh AS (SELECT doc_id, {S.shingles3(_TOKS)} AS sh FROM dup_corpus),
        p AS (
            SELECT n.doc_id AS a, o.doc_id AS b,
                   CASE WHEN len(list_distinct(n.sh || o.sh)) > 0 THEN
                        len(list_intersect(n.sh, o.sh)) /
                        CAST(len(list_distinct(n.sh || o.sh)) AS DOUBLE)
                   END AS jr
            FROM sh n JOIN sh o
              ON n.doc_id >= 1000000 AND o.doc_id < 1000000)
        SELECT a, b, ROUND(jr, 4) AS jac FROM p WHERE jr >= 0.8
    """,
)
def incremental_near_dup(spark, sf_dir):
    """New-batch-vs-existing-corpus verified near-dup matches. See
    operators/dedup.py:incremental_near_dup for the narrow band-probe
    scale shape (corpus side never cached, batch side persisted)."""
    from docling_api_spark.operators.dedup import incremental_near_dup as _inc

    corpus = dup_corpus(spark, sf_dir)
    new_docs = corpus.filter(F.col("doc_id") >= 1000000)
    old_docs = corpus.filter(F.col("doc_id") < 1000000)
    return _inc(new_docs, old_docs, threshold=0.8)
