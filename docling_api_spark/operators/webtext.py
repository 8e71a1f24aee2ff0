"""Web-corpus curation operators — the filtering/bookkeeping stages a
Common-Crawl-scale training-data pipeline runs AFTER extraction and
BEFORE tokenization:

- :func:`repetition_scores` — Gopher-style repetition signals (Rae et
  al. 2021 §A1.1: duplicate-token fraction, top-2-gram character
  fraction, duplicated-n-gram character fraction).
- :func:`url_canonical_dedup` — URL canonicalization (lowercase
  scheme/host, default-port strip, tracking-param removal, param sort,
  fragment strip, trailing-slash strip) + exact dedup on the canonical
  form — the first dedup a crawl pipeline runs, before any content hash.
- :func:`contamination_flags` — n-gram-overlap decontamination against a
  held-out benchmark set (the eval-set leak check every training corpus
  needs; 3-grams here, the same plan carries the 13-grams production
  uses).
- :func:`dataset_split` — deterministic hash-bucket train/val/test
  assignment (split membership must be a pure function of the document
  key, never of partitioning or arrival order).
- :func:`lm_scores` — corpus-trained bigram language-model scoring with
  add-one smoothing (the CCNet/KenLM-style fluency filter shape).

Each operator is a single two-dialect SQL generator (Spark / DuckDB), so
the driver's oracle and the engine cannot drift apart. No Python in any
hot path — everything is JVM column expressions + keyed aggregations.

Reference parity note: the reference service (document_converter/
route.py, worker/tasks.py) has no corpus-curation layer at all — these
operators are the task brief's training-data additions, built Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions import textsql as X


def _view(spark: SparkSession, sf_dir: str, wide: bool = True) -> None:
    """``wide=False`` (r7): queries that only project doc_id/lang-level
    columns (robots, snapshot diff, fetch schedule) pay the widening
    exchange once per CTE reference without any heavy scan-stage work
    to parallelize — measured 0.4-1.3 s worse at sf1.0 — so they keep
    the plain single-split read."""
    from ..functions import read_wide
    df = (read_wide(spark, f"{sf_dir}/documents.parquet", "doc_id")
          if wide else
          spark.read.parquet(f"{sf_dir}/documents.parquet"))
    df.createOrReplaceTempView("documents")


# ------------------------------------------------- repetition signals

def _repetition_sql(dialect: str) -> str:
    """Gopher-style repetition signals, one row per document:

    - ``dup_token_frac``  — fraction of tokens that are repeats of an
      earlier token (map-side: 1 - distinct/total, zero shuffle).
    - ``top_2gram_frac``  — the largest character coverage any single
      2-gram achieves (count x gram length) / characters in all
      2-grams. Deliberate variant of Gopher's argmax-by-frequency
      formulation: coverage-max needs no tie-break join (argmax ties
      are unspecified there), upper-bounds it, and flags the same
      documents.
    - ``dup_3gram_frac``  — characters in 3-grams occurring more than
      once / characters in all 3-grams.

    Plan at scale (r4: single-pass): BOTH n-gram sizes ride ONE
    explode — each gram is key-prefixed with its size ('2:' / '3:') so
    one count per (doc_id, tagged-gram), one per-doc conditional
    aggregation, and one join produce all signals (previously two full
    explode→count→agg→join chains — twice the shuffle volume). Every
    stage hash-partitions on a key containing doc_id, so there is no
    global hot key no matter how skewed the corpus (the busiest reducer
    sees one document's grams); the token fraction never leaves the
    scan. Long documents stay linear: explode+count is O(tokens), never
    the O(tokens^2) a per-row array self-scan would cost. Ratios are
    exact integer round-half-away at 4 dp; NULL when a document is too
    short to have any n-gram (no 0/0 invention). The true gram length
    is length(tagged) - 2 (the 'k:' prefix)."""
    toks = X.tokens(dialect)
    g2 = X.ngrams(dialect, "tk", 2)
    g3 = X.ngrams(dialect, "tk", 3)
    if dialect == "spark":
        n_tok, n_uniq = "size(tk)", "size(array_distinct(tk))"
        explode = "explode"
        tag2 = f"transform({g2}, x -> '2:' || x)"
        tag3 = f"transform({g3}, x -> '3:' || x)"
        both = f"concat({tag2}, {tag3})"
    else:
        n_tok, n_uniq = "len(tk)", "len(list_distinct(tk))"
        explode = "unnest"
        tag2 = f"list_transform({g2}, x -> '2:' || x)"
        tag3 = f"list_transform({g3}, x -> '3:' || x)"
        both = f"list_concat({tag2}, {tag3})"
    return f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
c AS (
  SELECT doc_id, gram, count(*) AS cnt
  FROM (SELECT doc_id, {explode}({both}) AS gram FROM t) e
  GROUP BY doc_id, gram
),
a AS (
  SELECT doc_id,
    max(CASE WHEN gram LIKE '2:%'
             THEN cnt * (length(gram) - 2) END) AS top2_chars,
    sum(CASE WHEN gram LIKE '2:%'
             THEN cnt * (length(gram) - 2) END) AS tot2_chars,
    sum(CASE WHEN gram LIKE '3:%' AND cnt > 1
             THEN cnt * (length(gram) - 2) ELSE 0 END) AS dup3_chars,
    sum(CASE WHEN gram LIKE '3:%'
             THEN cnt * (length(gram) - 2) END) AS tot3_chars
  FROM c GROUP BY doc_id
)
SELECT t.doc_id,
  CAST({n_tok} AS BIGINT) AS n_tokens,
  {X.ratio4(dialect, f"{n_tok} - {n_uniq}", f"nullif({n_tok}, 0)")}
    AS dup_token_frac,
  {X.ratio4(dialect, "a.top2_chars", "a.tot2_chars")} AS top_2gram_frac,
  {X.ratio4(dialect, "a.dup3_chars", "nullif(a.tot3_chars, 0)")}
    AS dup_3gram_frac
FROM t
LEFT JOIN a ON a.doc_id = t.doc_id
"""


def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir)
    return spark.sql(_repetition_sql("spark"))


REPETITION_ORACLE = _repetition_sql("duck")


# --------------------------------------------- URL canonical + dedup

#: tracking parameters stripped by canonicalization (the usual suspects);
#: everything else is content-significant and kept (sorted)
_TRACKING_RX = "^(utm_[a-z]+|fbclid|gclid|msclkid)="


def _messy_url_sql(dialect: str) -> str:
    """Deterministic messy-URL synthesis from doc_id — the crawl-frontier
    shape where ONE page (``page_id = doc_id - doc_id % 3``) is reached
    via up to three syntactically different URLs: scheme/host case noise,
    an explicit default port, a trailing slash, tracking params, a
    content param in unsorted position, a fragment. The content param is
    PAGE-keyed, so the ``%3 ∈ {0,1}`` variants canonicalize identically
    (real dedup pairs), while the ``%3 = 2`` variant carries no query at
    all (its own canonical — exercises empty-query handling). Pure
    string concat, identical text in both engines."""
    del dialect  # same SQL text in both engines
    return (
        "CASE WHEN doc_id % 4 = 1 THEN 'HTTPS://Site' ELSE 'https://site' END"
        " || CAST((doc_id - doc_id % 3) % 97 AS STRING)"
        " || CASE WHEN doc_id % 4 = 1 THEN '.Example' ELSE '.example' END"
        " || CASE WHEN doc_id % 5 = 2 THEN ':443' ELSE '' END"
        " || '/doc/' || CAST(doc_id - doc_id % 3 AS STRING)"
        " || CASE WHEN doc_id % 6 = 3 THEN '/' ELSE '' END"
        " || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id='"
        "             || CAST((doc_id - doc_id % 3) % 7 AS STRING)"
        "         WHEN doc_id % 3 = 1 THEN '?id='"
        "             || CAST((doc_id - doc_id % 3) % 7 AS STRING)"
        "             || '&utm_campaign=x'"
        "         ELSE '' END"
        " || CASE WHEN doc_id % 9 = 5 THEN '#sec2' ELSE '' END"
    )


def canonicalize_sql(dialect: str, source: str) -> str:
    """A SELECT computing ``canonical_url`` for every row of ``source``
    (a relation exposing doc_id and a url column ``u``) — the reusable
    canonicalizer: lower(scheme)://lower(host) [default port stripped] +
    path [trailing slash stripped] + '?'+sort(non-tracking params)
    [omitted when empty]; fragments never survive. Idempotent by
    property test (canon(canon(u)) = canon(u))."""
    if dialect == "spark":
        # Spark regexp_replace replaces ALL matches; group refs are $1
        strip_frag = "regexp_replace(u, '#.*$', '')"
        params = ("filter(split(q, '&'), "
                  f"p -> p != '' AND NOT p RLIKE '{_TRACKING_RX}')")
        canon_q = ("array_join(array_sort(kept), '&')")
        lower_hostport = ("lower(coalesce(regexp_extract(nf, "
                          "'^[a-zA-Z]+://([^/?]*)', 1), ''))")
    else:
        # DuckDB regexp_replace needs the 'g' flag for replace-all;
        # single-match replaces below are anchored so no flag needed
        strip_frag = "regexp_replace(u, '#.*$', '')"
        params = ("list_filter(string_split(q, '&'), "
                  f"p -> p != '' AND NOT regexp_matches(p, '{_TRACKING_RX}'))")
        # duck array_to_string([]) is NULL where Spark array_join is ''
        canon_q = "coalesce(array_to_string(list_sort(kept), '&'), '')"
        lower_hostport = ("lower(coalesce(regexp_extract(nf, "
                          "'^[a-zA-Z]+://([^/?]*)', 1), ''))")
    # DuckDB regexp_extract yields NULL on no-match where Spark yields ''
    # — coalesce so both dialects see '' (r3: the '?'-less URL class)
    scheme = "lower(coalesce(regexp_extract(nf, '^([a-zA-Z]+)://', 1), ''))"
    path = ("coalesce(regexp_extract(nf, '^[a-zA-Z]+://[^/?]*([^?]*)', 1),"
            " '')")
    query = "coalesce(regexp_extract(nf, '[?](.*)$', 1), '')"
    return f"""
SELECT doc_id, u,
    -- non-hierarchical / schemeless inputs (mailto:, protocol-relative
    -- '//host/..', bare paths) pass through fragment-stripped but
    -- otherwise UNTOUCHED: without a parsed scheme+host every such URL
    -- would collapse to one ':///' canonical and the downstream dedup
    -- would silently merge distinct pages (r3 review find, verified)
    CASE WHEN sch = '' OR hostport = '' THEN nf0 ELSE
    sch || '://'
    || CASE WHEN sch = 'https' THEN regexp_replace(hostport, ':443$', '')
            WHEN sch = 'http'  THEN regexp_replace(hostport, ':80$', '')
            ELSE hostport END
    || CASE WHEN pth = '' OR pth = '/' THEN '/'
            ELSE regexp_replace(pth, '/$', '') END
    || CASE WHEN cq = '' THEN '' ELSE '?' || cq END
    END AS canonical_url
  FROM (
    SELECT doc_id, u, nf0, sch, hostport, pth, {canon_q} AS cq
    FROM (SELECT doc_id, u, nf0, sch, hostport, pth, {params} AS kept
          FROM (
            SELECT doc_id, u, nf AS nf0, {scheme} AS sch,
                   {lower_hostport} AS hostport,
                   {path} AS pth, {query} AS q
            FROM (SELECT doc_id, u, {strip_frag} AS nf FROM {source}) s
          ) parts) k
  ) j"""


def _url_canon_sql(dialect: str) -> str:
    """Canonicalize the messy synthetic URLs, then dedup on the
    canonical form. ``is_canonical`` keeps the smallest doc_id per
    canonical URL (first capture wins — swap the window key for
    max(warc_ts) to prefer freshest).

    Plan at scale: canonicalization is one map-side projection (regex +
    array ops, whole-stage codegen); the dedup decision is ONE window
    keyed on canonical_url — the same single-shuffle shape as
    dedup_exact, and url-keyed, so host-level skew does not concentrate
    (every URL is its own group)."""
    url = _messy_url_sql(dialect)
    canon = canonicalize_sql(
        dialect, f"(SELECT doc_id, {url} AS u FROM documents)")
    return f"""
SELECT doc_id, u AS url, canonical_url,
  doc_id = min(doc_id) OVER (PARTITION BY canonical_url) AS is_canonical
FROM ({canon}) c
"""


def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir)
    return spark.sql(_url_canon_sql("spark"))


URL_CANON_ORACLE = _url_canon_sql("duck")


# ------------------------------------------------ decontamination

#: benchmark membership rule — docs whose id hits this modulus stand in
#: for the held-out eval set (deterministic, scale-proportional)
_BENCH_MOD = 101


def _contamination_sql(dialect: str) -> str:
    """Flag corpus documents sharing word n-grams with a benchmark set.

    3-word shingles here (the corpus' synthetic vocabulary is small, so
    3-grams collide at a measurable, assertable rate); production
    decontamination swaps the same shingle expression for 13-grams —
    the plan is k-independent.

    Plan at scale: the benchmark n-gram set is DISTINCT'd and broadcast
    (an eval suite is millions of grams at most — broadcastable by
    construction, and the hint makes it explicit); the corpus side
    streams map-side through the semi-join, then one aggregation keyed
    by doc_id. The corpus is never shuffled on gram — only benchmark
    grams move."""
    toks = X.tokens(dialect)
    sh = X.shingles_from(dialect, "tk")
    explode = "explode" if dialect == "spark" else "unnest"
    hint = "/*+ BROADCAST(bench) */ " if dialect == "spark" else ""
    return f"""
WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
g AS (
  SELECT DISTINCT doc_id, gram
  FROM (SELECT doc_id, {explode}({sh}) AS gram FROM t) e
),
bench AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % {_BENCH_MOD} = 0
),
agg AS (
  -- ONE pass over the corpus grams: the broadcast left join marks hits,
  -- the keyed agg counts totals and hits together (a separate hits/tot
  -- pair would scan and aggregate the corpus side twice)
  SELECT {hint}g.doc_id, count(*) AS n_grams,
         count(bench.gram) AS n_hits
  FROM g LEFT JOIN bench ON g.gram = bench.gram
  WHERE g.doc_id % {_BENCH_MOD} <> 0
  GROUP BY g.doc_id
)
SELECT t.doc_id,
  CAST(coalesce(agg.n_grams, 0) AS BIGINT) AS n_grams,
  CAST(coalesce(agg.n_hits, 0) AS BIGINT) AS n_contaminated,
  {X.ratio4(dialect, "coalesce(agg.n_hits, 0)", "nullif(agg.n_grams, 0)")}
    AS contaminated_frac,
  coalesce(agg.n_hits, 0) > 0 AS is_contaminated
FROM t
LEFT JOIN agg ON agg.doc_id = t.doc_id
WHERE t.doc_id % {_BENCH_MOD} <> 0
"""


def contamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir)
    return spark.sql(_contamination_sql("spark"))


CONTAMINATION_ORACLE = _contamination_sql("duck")


# ------------------------------------------------ deterministic split

#: bucket → split boundaries (out of 100): 90/5/5
_SPLIT_TRAIN, _SPLIT_VAL = 90, 95
#: version salt: changing it re-rolls every assignment on purpose —
#: split membership must never drift silently between pipeline runs
_SPLIT_SALT = "split:v1:"


def _split_sql(dialect: str) -> str:
    """Train/validation/test assignment as a pure function of the
    document key: bucket = md5('split:v1:' || doc_id) % 100. Entirely
    map-side (zero shuffle, zero state) — the property that matters at
    10^12 documents is that membership survives repartitioning,
    backfills, and incremental appends without a registry table."""
    h = X.md5_int(dialect, f"'{_SPLIT_SALT}' || CAST(doc_id AS STRING)")
    return f"""
SELECT doc_id,
  CAST(bucket AS INT) AS bucket,
  CASE WHEN bucket < {_SPLIT_TRAIN} THEN 'train'
       WHEN bucket < {_SPLIT_VAL} THEN 'validation'
       ELSE 'test' END AS split
FROM (SELECT doc_id, {h} % 100 AS bucket FROM documents) b
"""


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir)
    return spark.sql(_split_sql("spark"))


SPLIT_ORACLE = _split_sql("duck")


# ------------------------------------------------ bigram LM scoring

def _lm_sql(dialect: str, tk_table: str | None = None,
            bg_table: str | None = None) -> str:
    """Corpus-trained bigram LM score per document (CCNet-style fluency
    signal): for each bigram (w1,w2), logprob = ln((C(w1,w2) + 1) /
    (C(w1) + V)) with add-one smoothing over vocabulary size V;
    avg_logprob = mean over the document's bigrams.

    Cross-engine determinism: each per-bigram ln() is quantized to
    integer MICRO-units (round at 6 dp, then an exact integral-double →
    BIGINT cast — the one double rounding, on a transcendental where a
    tie is astronomically unlikely, the same contract tfidf_topterms
    relies on). From there everything is integer arithmetic: BIGINT sum
    (exact, associative — partition-order invariant), and the mean is an
    explicit integer round-half-away division ``(2*|s| + n) div (2*n)``
    re-signed — because ROUND(s/n, 6) genuinely ties in practice (found
    by the sf0.1 sweep: doc with s/n = -3.4140895 exactly; Spark's
    BigDecimal HALF_UP and DuckDB's scaled-double round disagreed on
    it). ``q/1e6`` then maps to the identical nearest double in both
    engines.

    Plan at scale: two keyed count aggregations build the model (bigram
    counts keyed on gram, unigram counts keyed on token — partial
    aggregation map-side combines both); scoring is two equi-joins keyed
    on gram/w1 (model side and corpus side co-partition on the join key)
    plus one per-doc aggregation. V is a 1-row scalar cross join. No
    broadcast assumption on the model: at web scale the bigram table is
    itself huge, and the keyed sort-merge join is the right plan — AQE
    will downgrade to broadcast when a small corpus makes it cheap."""
    toks = X.tokens(dialect)
    g2 = X.ngrams(dialect, "tk", 2)
    w1 = "split_part(gram, ' ', 1)"
    if dialect == "spark":
        explode = "explode"
        intdiv = ("(2 * abs(agg.s) + agg.n_bigrams) "
                  "DIV (2 * agg.n_bigrams)")
    else:
        explode = "unnest"
        intdiv = ("(2 * abs(agg.s) + agg.n_bigrams) "
                  "// (2 * agg.n_bigrams)")
    tk_body = (f"SELECT * FROM {tk_table}" if tk_table else
               f"SELECT doc_id, {toks} AS tk FROM documents")
    bg_body = (f"SELECT * FROM {bg_table}" if bg_table else f"""
  SELECT doc_id, gram, {w1} AS w1
  FROM (SELECT doc_id, {explode}({g2}) AS gram FROM t) e
""")
    return f"""
WITH t AS ({tk_body}),
toksx AS (SELECT doc_id, {explode}(tk) AS tok FROM t),
uni AS (SELECT tok, count(*) AS c1 FROM toksx GROUP BY tok),
v AS (SELECT count(*) AS vocab FROM uni),
bg AS ({bg_body}),
bgc AS (SELECT gram, count(*) AS c2 FROM bg GROUP BY gram),
scored AS (
  SELECT bg.doc_id,
         CAST(ROUND(ln((bgc.c2 + 1.0) / (uni.c1 + v.vocab))
                    * 1000000.0, 0) AS BIGINT) AS lp_micros
  FROM bg
  JOIN bgc ON bg.gram = bgc.gram
  JOIN uni ON bg.w1 = uni.tok
  CROSS JOIN v
),
agg AS (
  SELECT doc_id, count(*) AS n_bigrams, sum(lp_micros) AS s
  FROM scored GROUP BY doc_id
)
SELECT t.doc_id,
  CAST(coalesce(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
  (CASE WHEN agg.s < 0 THEN -1.0 ELSE 1.0 END)
    * CAST({intdiv} AS DOUBLE) / 1000000.0 AS avg_logprob
FROM t LEFT JOIN agg ON agg.doc_id = t.doc_id
"""


def lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7: the token and exploded-bigram relations are each consumed
    twice (model build + scoring) and Catalyst re-inlines CTEs — the
    corpus was tokenized twice and bigrammed twice per run. Both are
    materialized once per invocation (localCheckpoint, the
    substring_dedup pattern); the DuckDB oracle keeps the plain CTEs
    (text unchanged)."""
    _view(spark, sf_dir)
    toks = X.tokens("spark")
    tk = spark.sql(f"SELECT doc_id, {toks} AS tk FROM documents") \
        .localCheckpoint()
    tk.createOrReplaceTempView("lm_tk")
    g2 = X.ngrams("spark", "tk", 2)
    bg = spark.sql(
        "SELECT doc_id, gram, split_part(gram, ' ', 1) AS w1 "
        f"FROM (SELECT doc_id, explode({g2}) AS gram FROM lm_tk) e") \
        .localCheckpoint()
    bg.createOrReplaceTempView("lm_bg")
    return spark.sql(_lm_sql("spark", tk_table="lm_tk", bg_table="lm_bg"))


LM_ORACLE = _lm_sql("duck")


# ------------------------------------------ stratified language sample

#: per-language keep rate in percent — the corpus-rebalancing shape
#: (downsample the dominant language, keep the long tail whole)
_LANG_RATES = {"en": 50, "fr": 80}
_DEFAULT_RATE = 100
_SAMPLE_SALT = "sample:v1:"


def _stratified_sql(dialect: str) -> str:
    """Language-stratified deterministic sampling: keep doc iff
    md5('sample:v1:' || doc_id) % 100 < rate(lang). Pure map-side (zero
    shuffle, zero state) — like dataset_split, membership is a function
    of the document key alone, so it survives repartitioning, backfills
    and incremental appends; unlike rand()-based df.sample it is exactly
    reproducible across runs and engines. Emits every doc with its
    verdict (the driver hashes both kept and dropped)."""
    h = X.md5_int(dialect, f"'{_SAMPLE_SALT}' || CAST(doc_id AS STRING)")
    rate = ("CASE " + " ".join(
        f"WHEN lang = '{lg}' THEN {r}"
        for lg, r in sorted(_LANG_RATES.items()))
        + f" ELSE {_DEFAULT_RATE} END")
    return f"""
SELECT doc_id, lang,
  CAST(bucket AS INT) AS bucket,
  CAST(rate AS INT) AS keep_rate,
  bucket < rate AS keep
FROM (
  SELECT doc_id, lang, {h} % 100 AS bucket, {rate} AS rate
  FROM documents
) b
"""


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir)
    return spark.sql(_stratified_sql("spark"))


STRATIFIED_ORACLE = _stratified_sql("duck")


# ------------------------------------------------- text normalization

#: typographic folds applied before hashing/dedup: curly quotes →
#: straight, en/em-dash → hyphen, NBSP → space (1:1 codepoint map —
#: translate() in both engines)
_FOLD_FROM = "‘’“”–— "
_FOLD_TO = "''\"\"-- "


def _normalize_sql(dialect: str) -> str:
    """Unicode-typography normalization + whitespace collapse — the
    canonicalization every dedup/hash stage should run first (two pages
    differing only in quote style are the same page). The query stages a
    deterministic messy variant (curly quotes, em-dash, double spaces)
    over half the corpus, normalizes it, and hashes the result — so the
    driver gates that translate() and the collapse behave identically
    across engines on real multi-byte codepoints. Map-side only.

    The normalizer expression (fold → collapse → trim) is the shippable
    artifact; ``changed`` marks docs the normalizer actually touched."""
    g = ", 'g'" if dialect == "duck" else ""
    fold_to = _FOLD_TO.replace("'", "''")
    messy = ("CASE WHEN doc_id % 2 = 0 THEN "
             "'“' || text || '”  – end' "
             "ELSE text END")
    norm = (f"trim(regexp_replace(translate(m, '{_FOLD_FROM}', "
            f"'{fold_to}'), '  +', ' '{g}))")
    return f"""
SELECT doc_id,
  CAST(length(m) AS BIGINT) AS raw_len,
  CAST(length(n) AS BIGINT) AS norm_len,
  m <> n AS changed,
  md5(n) AS norm_md5
FROM (
  SELECT doc_id, m, {norm} AS n
  FROM (SELECT doc_id, {messy} AS m FROM documents) s0
) s1
"""


def normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir)
    return spark.sql(_normalize_sql("spark"))


NORMALIZE_ORACLE = _normalize_sql("duck")


# ------------------------------------------------ robots compliance

def _robots_txt_sql() -> str:
    """Deterministic per-host robots.txt synthesis (host id ``h``,
    identical text both engines). Grammar the parser must honor:
    a decoy ``user-agent: evilbot`` section FIRST (must be ignored),
    then the ``*`` section with host-class-dependent rules:

    - h%3=0: ``disallow: /doc/``                  → docs blocked
    - h%3=1: ``disallow: /doc/`` + ``allow: /doc/1`` → only ids
      starting '1' crawlable (longest-prefix-match exercises)
    - h%3=2: only an unrelated ``/private/`` rule → docs allowed

    r4: every ``*`` section also carries ``crawl-delay: 1+h%3`` — the
    politeness directive :func:`fetch_schedule` parses (robots_filter's
    rules CTE ignores it by its allow/disallow line filter) — plus REP
    comment noise the parser must strip: a whole-line ``#`` comment, a
    blank line, and an INLINE comment on the h%3=0 ``/doc/`` rule —
    LOAD-BEARING: a parser that fails to strip it reads the prefix as
    '/doc/ # no docs', matches nothing, and flips every h%3=0 page
    from denied to allowed (the value hash catches it).
    """
    nl = "chr(10)"
    return (
        f"'user-agent: evilbot' || {nl} || 'disallow: /' || {nl}"
        f" || 'user-agent: *' || {nl} || '# policy for everyone'"
        f" || {nl} || {nl}"
        f" || 'disallow: /private/'"
        f" || {nl} || 'crawl-delay: ' || CAST(1 + h % 3 AS STRING)"
        f" || CASE WHEN h % 3 = 0"
        f"         THEN {nl} || 'disallow: /doc/ # no docs'"
        f"         WHEN h % 3 = 1 THEN {nl} || 'disallow: /doc/'"
        f"              || {nl} || 'allow: /doc/1'"
        f"         ELSE '' END"
    )


def _robots_sql(dialect: str) -> str:
    """Robots-exclusion compliance (REP, the Google spec semantics a
    crawl pipeline must apply before a page may enter the corpus):
    parse the host's robots.txt — select the ``*`` user-agent section
    (decoy sections ignored), extract allow/disallow prefixes — then
    verdict each URL by LONGEST matching prefix, allow winning ties;
    no matching rule means allowed.

    Pure SQL in both engines: section selection is a split on
    'user-agent: ' + prefix filter; the longest-match-with-tie-break is
    an integer max over ``2*len(prefix) + is_allow`` (longer dominates,
    allow odd — no struct comparisons, no dialect divergence).

    Plan at scale: the rules table is hosts-sized (broadcastable by
    construction — there are millions of hosts, not trillions); pages
    join it keyed on host, rules explode per matching prefix, one
    aggregation keyed by url. The corpus never shuffles on anything but
    its own url/host keys."""
    txt = _robots_txt_sql()
    if dialect == "spark":
        sections = "filter(split(txt, 'user-agent: '), s -> s LIKE '*%')"
        first_sec = f"element_at({sections}, 1)"
        explode = "explode"
        lines = "split(sec, '\\n')"
    else:
        sections = ("list_filter(string_split(txt, 'user-agent: '), "
                    "s -> s LIKE '*%')")
        first_sec = f"({sections})[1]"
        explode = "unnest"
        lines = "string_split(sec, chr(10))"
    return f"""
WITH hosts AS (
  SELECT DISTINCT doc_id % 97 AS h FROM documents
),
robots AS (
  SELECT h, {txt} AS txt FROM hosts
),
sec AS (
  SELECT h, {first_sec} AS sec FROM robots
),
rules AS (
  -- REP comments (r4): '#' starts a comment anywhere in a line — strip
  -- it (and trailing spaces) from the value before use; whole-line
  -- comments and blank lines never pass the directive filter
  SELECT h,
    split_part(line, ': ', 1) AS directive,
    rtrim(split_part(split_part(line, '#', 1), ': ', 2)) AS prefix
  FROM (SELECT h, {explode}({lines}) AS line FROM sec) e
  WHERE line LIKE 'allow: %' OR line LIKE 'disallow: %'
),
pages AS (
  SELECT doc_id, doc_id % 97 AS h,
         '/doc/' || CAST(doc_id AS STRING)
         || CASE WHEN doc_id % 10 = 7 THEN '.md' ELSE '.html' END AS path
  FROM documents
),
matched AS (
  SELECT p.doc_id, p.h, p.path,
    max(2 * length(r.prefix)
        + CASE WHEN r.directive = 'allow' THEN 1 ELSE 0 END) AS best
  FROM pages p
  JOIN rules r
    ON r.h = p.h
   AND substr(p.path, 1, length(r.prefix)) = r.prefix
  GROUP BY p.doc_id, p.h, p.path
)
SELECT p.doc_id,
  'site' || CAST(p.h AS STRING) || '.example' AS host,
  p.path,
  coalesce(m.best % 2 = 1, TRUE) AS crawl_allowed
FROM pages p
LEFT JOIN matched m ON m.doc_id = p.doc_id
"""


def robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir, wide=False)
    return spark.sql(_robots_sql("spark"))


ROBOTS_ORACLE = _robots_sql("duck")


# ------------------------------------------------ crawl snapshot diff

def _snapshot_diff_sql(dialect: str) -> str:
    """Two-snapshot crawl diff (r4) — the incremental-ingest verdict a
    recurring crawl computes before reprocessing: per url,
    ``added`` / ``removed`` / ``changed`` / ``unchanged`` between
    snapshot A (t0) and snapshot B (t1). Deterministic synthesis from
    the corpus rule: docs with ``doc_id%11=3`` appear only in B (new),
    ``doc_id%7=5`` only in A (gone), ``doc_id%5=0`` change content
    between snapshots; both-absent docs are excluded entirely.

    Plan at scale: ONE url-keyed full-outer join of two content-hash
    projections — url is unique per snapshot, so no skew; at 10^12 docs
    both sides hash-partition on url and the verdict is map-side after
    the join. The same plan diff-drives reprocessing (only
    added/changed rows feed extraction)."""
    del dialect  # identical text in both engines
    url = ("'https://site' || CAST(doc_id % 97 AS STRING) "
           "|| '.example/doc/' || CAST(doc_id AS STRING) || '.html'")
    return f"""
WITH base AS (
  SELECT doc_id, {url} AS url, text FROM documents
),
a AS (
  SELECT url, md5(text) AS h FROM base WHERE doc_id % 11 <> 3
),
b AS (
  SELECT url,
         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                  ELSE text END) AS h
  FROM base WHERE doc_id % 7 <> 5
)
SELECT coalesce(a.url, b.url) AS url,
  CASE WHEN b.url IS NULL THEN 'removed'
       WHEN a.url IS NULL THEN 'added'
       WHEN a.h = b.h THEN 'unchanged'
       ELSE 'changed' END AS verdict
FROM a FULL OUTER JOIN b ON a.url = b.url
"""


def crawl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir, wide=False)
    return spark.sql(_snapshot_diff_sql("spark"))


SNAPSHOT_DIFF_ORACLE = _snapshot_diff_sql("duck")


# ------------------------------------------------ fetch schedule

def _fetch_schedule_sql(dialect: str) -> str:
    """Politeness-aware crawl-frontier schedule (r4): compose the robots
    verdict, the per-host REP ``crawl-delay`` directive (parsed from the
    same ``*`` section the rules come from), and the sitemap priority
    rule into a per-host fetch order with absolute time offsets —
    ``fetch_offset_s = (rank-1) * crawl_delay`` — the schedule a polite
    fetcher executes. Disallowed urls never enter the frontier.

    Plan at scale: the robots verdict is the existing hosts-sized
    rules join; the schedule adds one host-partitioned rank window
    (hosts bound the partition count, priorities bound each partition's
    sort) and a map-side multiply. No new shuffle shape."""
    robots = _robots_sql(dialect)
    sec_src = _robots_txt_sql()
    if dialect == "spark":
        first_sec = ("element_at(filter(split(txt, 'user-agent: '), "
                     "s -> s LIKE '*%'), 1)")
    else:
        first_sec = ("(list_filter(string_split(txt, 'user-agent: '), "
                     "s -> s LIKE '*%'))[1]")
    return f"""
WITH v AS ({robots}),
hosts AS (SELECT DISTINCT doc_id % 97 AS h FROM documents),
delays AS (
  SELECT h,
    CAST(coalesce(nullif(regexp_extract(
        {first_sec}, 'crawl-delay: ([0-9]+)', 1), ''), '1') AS BIGINT)
      AS delay_s
  FROM (SELECT h, {sec_src} AS txt FROM hosts) rt
),
f AS (
  SELECT v.doc_id, v.host, v.path,
         CAST(v.doc_id % 10 AS INT) AS priority,
         d.delay_s
  FROM v JOIN delays d ON 'site' || CAST(d.h AS STRING) || '.example'
                          = v.host
  WHERE v.crawl_allowed
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY host
                               ORDER BY priority DESC, doc_id)
            AS fetch_rank
  FROM f
)
SELECT doc_id, host, CAST(fetch_rank AS INT) AS fetch_rank,
  CAST((fetch_rank - 1) * delay_s AS BIGINT) AS fetch_offset_s
FROM r
"""


def fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir, wide=False)
    return spark.sql(_fetch_schedule_sql("spark"))


FETCH_SCHEDULE_ORACLE = _fetch_schedule_sql("duck")


# ------------------------------------------------ sequence packing

#: tokens per packed training sequence
PACK_BUDGET = 256
#: shard count of the two-level prefix sum (r5). The packing layout is
#: global doc_id order whatever the count (test_webtext pins S=1 == S=3
#: == S=32 == S=1000), so ``shards=`` is a pure PERFORMANCE parameter;
#: this default is also the S the DuckDB oracle text embeds. r4 VERDICT
#: fix: the old fixed 32-way modulo shard was a hard cap — each shard's
#: running-sum window sorted n_docs/32 rows on one reducer (3e10
#: rows/reducer at 1e12 docs) AND the layout depended on the constant
#: (seq ids reserved 2^32 per shard).
PACK_SHARDS = 32


def _packing_sql(dialect: str, shards: int | None = None) -> str:
    """Training-sequence packing (r4, reworked r5) — the concat-and-
    chunk every pretraining pipeline runs last: documents are laid out
    in GLOBAL doc_id order and cut into fixed token-budget sequences;
    each document reports the sequence its first token lands in, its
    token offset within it, and how many sequences it spans.

    Distributed as a two-level prefix sum (the r4 VERDICT's named
    scale fix): documents are range-sharded by
    ``doc_id DIV ceil(max_id/shards)`` (map-side; one scalar agg for
    max), each shard computes its local running sum in a shard-keyed
    window (n_docs/shards rows per reducer — shards scales with the
    cluster), per-shard totals (``shards`` rows, tiny) get cumulative
    offsets in one trivially small global window, and a broadcast join
    adds the shard offset back. Because range sharding preserves
    doc_id order, local_start + shard_offset IS the exact global
    running sum — the output is byte-identical for ANY shard count.

    (Real pipelines pack token RANGES across document boundaries; this
    op reports the boundary layout — first-token sequence + offset +
    span count — which is the bookkeeping both layouts need.)"""
    S = PACK_SHARDS if shards is None else shards
    toks = X.tokens(dialect)
    n_tok = ("size(tk)" if dialect == "spark" else "len(tk)")
    div = "DIV" if dialect == "spark" else "//"
    return f"""
WITH t AS (
  SELECT doc_id, CAST({n_tok} AS BIGINT) AS n_tok
  FROM (SELECT doc_id, {toks} AS tk FROM documents) src
),
rng AS (
  SELECT CAST((max(doc_id) + {S}) {div} {S} AS BIGINT) AS range_sz
  FROM t
),
s AS (
  SELECT doc_id, n_tok,
         CAST(doc_id {div} range_sz AS BIGINT) AS shard
  FROM t, rng
),
r AS (
  SELECT doc_id, shard, n_tok,
    CAST(coalesce(sum(n_tok) OVER (
      PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS local_start
  FROM s
),
o AS (
  SELECT shard,
    CAST(coalesce(sum(shard_tok) OVER (
      ORDER BY shard
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS shard_off
  FROM (SELECT shard, sum(n_tok) AS shard_tok FROM s GROUP BY shard) z
),
c AS (
  SELECT r.doc_id, r.n_tok, o.shard_off + r.local_start AS tok_start
  FROM r JOIN o ON r.shard = o.shard
)
SELECT doc_id, n_tok,
  CAST(tok_start {div} {PACK_BUDGET} AS BIGINT) AS seq_id,
  CAST(tok_start % {PACK_BUDGET} AS BIGINT) AS seq_offset,
  CAST(CASE WHEN n_tok = 0 THEN 0
       ELSE (tok_start + n_tok - 1) {div} {PACK_BUDGET}
            - tok_start {div} {PACK_BUDGET} + 1 END AS BIGINT)
    AS n_seqs_spanned
FROM c
"""


def sequence_packing(spark: SparkSession, sf_dir: str,
                     shards: int | None = None) -> DataFrame:
    _view(spark, sf_dir)
    return spark.sql(_packing_sql("spark", shards))


PACKING_ORACLE = _packing_sql("duck")


# ------------------------------------------------- domain mixture

def _mixture_sql(dialect: str) -> str:
    """Domain-mixture report (r5) — the corpus-composition step every
    pretraining pipeline runs before sampling: per-domain (``source``)
    document/token totals, the domain's token share, and the sampling
    weight that would rebalance the corpus to a UNIFORM per-domain
    token budget (weight ∝ total/(n_domains·domain_tokens); a domain
    at exactly its uniform share gets weight 1.0). Shares and weights
    are exact integer arithmetic in parts-per-million — no float
    division, so engine and oracle agree to the last digit.

    Plan at 100 TB: one hash aggregate keyed on ``source`` (domains
    ≪ docs, partial aggregation map-side), then a broadcast of the
    one-row global total — the corpus never shuffles twice. Weighted
    SAMPLING itself is a downstream map (rand() < weight·rate), kept
    out of the report so the gate stays deterministic."""
    toks = X.tokens(dialect)
    n_tok = ("size(tk)" if dialect == "spark" else "len(tk)")
    div = "DIV" if dialect == "spark" else "//"
    return f"""
WITH t AS (
  SELECT source, CAST({n_tok} AS BIGINT) AS n_tok
  FROM (SELECT source, {toks} AS tk FROM documents) src
),
d AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS domain_tokens
  FROM t GROUP BY source
),
g AS (
  SELECT CAST(sum(domain_tokens) AS BIGINT) AS tot,
         CAST(count(*) AS BIGINT) AS nd
  FROM d
)
SELECT d.source, d.n_docs, d.domain_tokens,
  CAST(CASE WHEN g.tot = 0 THEN 0
       ELSE (1000000 * d.domain_tokens) {div} g.tot END AS BIGINT)
    AS token_share_ppm,
  CAST(CASE WHEN d.domain_tokens = 0 THEN 0
       ELSE (1000000 * g.tot) {div} (g.nd * d.domain_tokens) END
    AS BIGINT) AS weight_ppm
FROM d, g
"""


def domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir)
    return spark.sql(_mixture_sql("spark"))


MIXTURE_ORACLE = _mixture_sql("duck")


# -------------------------------------- DSIR importance weighting

#: hashed n-gram feature buckets (DSIR uses 10^4; 64 keeps the driver
#: fixture's buckets well-populated — the plan is bucket-count-invariant)
_DSIR_BUCKETS = 64
#: a source is "target domain" iff its md5 bucket mod this is 0 (~1/5 of
#: domains) — a deterministic stand-in for "the curated high-quality set"
_DSIR_TARGET_MOD = 5


def _dsir_sql(dialect: str, feats_table: str | None = None) -> str:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how much more likely its hashed n-gram features are
    under a TARGET domain's bag-of-ngrams model than under the raw
    corpus's own model; resampling by these weights shifts the corpus
    toward the target distribution without training a classifier.

    - Features: unigrams + word-2-grams into ``_DSIR_BUCKETS`` buckets;
      tokens are md5-hashed ONCE, bigram buckets derive arithmetically
      as ``(31·h1 + h2) mod B`` (see :func:`_dsir_feats_sql`), and both
      gram sizes ride ONE explode via array concat (the
      repetition_scores trick).
    - Models: add-one-smoothed bucket frequencies, target slice
      (sources whose md5 bucket ≡ 0 mod ``_DSIR_TARGET_MOD``) vs the
      full raw corpus.
    - Weight: log w(x) = Σ_b c_b(x)·(ln p̂_t[b] − ln q̂_r[b]).

    Cross-engine determinism: each per-bucket ln() is quantized to
    integer micros SEPARATELY (one transcendental per rounding — the
    lm_scores contract), the delta and the per-doc sum are then exact
    BIGINT arithmetic, and ``micros/1e6`` maps to the identical nearest
    double in both engines. ``logw_micros`` is the hash-stable column;
    ``log_weight`` is the human-facing double.

    Plan at 100 TB: one explode feeding a (doc_id, bucket)-keyed hash
    aggregate (partial aggregation map-side; every key contains doc_id,
    no hot key) — computed ONCE: the Spark side materializes it via
    ``localCheckpoint`` because Catalyst INLINES repeated CTE
    references (measured: the naive single-statement form re-ran the
    explode+agg pipeline 5× — 115 s at sf0.1 vs ~3 s staged). Both
    bucket models ride a single 64-row aggregate (the target sum is a
    CASE inside the same GROUP BY; global totals are windows over the
    64 rows), so the materialized feats relation is scanned exactly
    twice: once for the model, once for scoring. The scoring join is
    an explicit-hint BROADCAST of the 64-row model (the hint comment
    is inert in DuckDB); only the final per-doc agg exchanges on
    doc_id. The reference has no selection layer at all
    (document_converter/route.py converts whatever it is handed); this
    is the task brief's training-data-curation extension.

    ``feats_table``: None → inline the feats derivation as a CTE (the
    one-statement DuckDB oracle form); a table name → reference the
    pre-materialized view (the Spark engine form)."""
    hsrc = X.md5_int(dialect, "source")
    B = _DSIR_BUCKETS
    feats_src = feats_table or f"({_dsir_feats_sql(dialect)})"
    return f"""
WITH m0 AS (
  SELECT bucket,
         sum(c) AS rc,
         sum(CASE WHEN in_target THEN c ELSE 0 END) AS tc
  FROM {feats_src} feats_src GROUP BY bucket
),
model AS (
  SELECT bucket,
         CAST(ROUND(ln((tc + 1.0)
                       / (CAST(sum(tc) OVER () AS DOUBLE) + {B}.0))
                    * 1000000.0, 0) AS BIGINT)
       - CAST(ROUND(ln((rc + 1.0)
                       / (CAST(sum(rc) OVER () AS DOUBLE) + {B}.0))
                    * 1000000.0, 0) AS BIGINT) AS dln_micros
  FROM m0
),
agg AS (
  SELECT /*+ BROADCAST(m) */ f.doc_id,
         sum(f.c) AS n, sum(f.c * m.dln_micros) AS s
  FROM {feats_src} f JOIN model m ON f.bucket = m.bucket
  GROUP BY f.doc_id
),
t AS (
  SELECT doc_id, ({hsrc} % {_DSIR_TARGET_MOD}) = 0 AS in_target
  FROM documents
)
SELECT t.doc_id, t.in_target,
  CAST(coalesce(agg.n, 0) AS BIGINT) AS n_grams,
  CAST(coalesce(agg.s, 0) AS BIGINT) AS logw_micros,
  CAST(coalesce(agg.s, 0) AS DOUBLE) / 1000000.0 AS log_weight
FROM t LEFT JOIN agg ON agg.doc_id = t.doc_id
"""


def _dsir_feats_sql(dialect: str) -> str:
    """The (doc_id, in_target, bucket, c) hashed-ngram feature counts —
    the one explode+aggregate pass over the corpus.

    md5 runs once per TOKEN, never per gram: the unigram bucket is
    ``h mod B`` and the bigram bucket is ``(31·h1 + h2) mod B`` (the
    polynomial hash-composition trick) — half the md5 calls of hashing
    bigram strings and zero per-bigram string building, the dominant
    map-side cost at corpus scale. The grouping column is MATERIALIZED
    in a nested projection before GROUP BY: grouping by the alias made
    Catalyst substitute the hash expression into the aggregate and
    re-evaluate it per reference (measured 25 s → 7 s at sf0.1)."""
    toks = X.tokens(dialect)
    h1 = X.md5_int(dialect, "x")
    hsrc = X.md5_int(dialect, "source")
    B = _DSIR_BUCKETS
    if dialect == "spark":
        explode, cat = "explode", "concat"
        hashes = f"transform(tk, x -> {h1})"
        uni = f"transform(hs, h -> h % {B})"
        bi = (f"CASE WHEN size(hs) >= 2 THEN "
              f"transform(sequence(0, size(hs) - 2), "
              f"i -> (31 * hs[i] + hs[i+1]) % {B}) "
              f"ELSE array() END")
    else:
        explode, cat = "unnest", "list_concat"
        hashes = f"list_transform(tk, x -> {h1})"
        uni = f"list_transform(hs, h -> h % {B})"
        bi = (f"CASE WHEN len(hs) >= 2 THEN "
              f"list_transform(generate_series(1, len(hs) - 1), "
              f"i -> (31 * hs[i] + hs[i+1]) % {B}) "
              f"ELSE [] END")
    return f"""
SELECT doc_id, in_target, bucket, CAST(count(*) AS BIGINT) AS c
FROM (
  SELECT doc_id, in_target, {explode}({cat}({uni}, {bi})) AS bucket
  FROM (
    SELECT doc_id, in_target, {hashes} AS hs
    FROM (
      SELECT doc_id,
             ({hsrc} % {_DSIR_TARGET_MOD}) = 0 AS in_target,
             {toks} AS tk
      FROM documents
    ) t0
  ) t1
) gx
GROUP BY doc_id, in_target, bucket
"""


def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir)
    feats = spark.sql(_dsir_feats_sql("spark")).localCheckpoint()
    feats.createOrReplaceTempView("dsir_feats")
    return spark.sql(_dsir_sql("spark", feats_table="dsir_feats"))


DSIR_ORACLE = _dsir_sql("duck")
