"""Training-corpus pipeline analytics (SURVEY.md §2.B north-star surface —
new design, no reference counterpart: /root/reference has no analytics at
all, see SURVEY §2.A).

Operators a 100 TB LLM-data pipeline runs daily: vocabulary construction,
TF-IDF term scoring, PII redaction, funnel/cohort behavioral analytics over
the event stream, plus the relational long-tail (IN/NOT IN subqueries,
UNPIVOT, cross-join grids with zero-fill).

Scale discipline shared by all:
- Tokenization/regex work is codegen'd JVM expressions (no Python).
- Explodes aggregate IMMEDIATELY (explode -> groupBy fuses into one shuffle
  of (token, partial-count) pairs; the exploded rows never persist).
- Vocab/IDF tables are post-aggregation tiny -> broadcast back to the
  corpus-sized side; the fact side shuffles at most once.
- Window-based per-user derivations (cohort day) use ONE partitionBy(user)
  shuffle instead of groupBy + self-join (two shuffles of the same data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kitkat_spark.functions.text import _zipped_ngrams, tokens
from kitkat_spark.functions.numeric import DEC_REV_SQL, drev, dsum, dsum_dec, dsum_dec_sql
from kitkat_spark.sources import load_table

VOCAB_TOP_K = 50
BIGRAM_MIN_COUNT = 50


def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build: top-50 tokens by document frequency with rank.

    explode(array_distinct(tokens)) -> count per token is ONE shuffle with
    map-side combine (partial counts per token). The final orderBy+limit is
    TakeOrderedAndProject (per-partition heap, k-row merge — no full sort);
    the rank window then runs over 50 rows, so its single-partition sort is
    irrelevant at any corpus size. Ties break on the token itself. The
    single-file fixture scan fans out first — tokenization is CPU-bound
    (no-op rebalance on a real multi-partition scan)."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par)
    inv = docs.select(F.explode(F.array_distinct(tokens(F.col("text")))).alias("token"))
    vocab = inv.groupBy("token").agg(F.count("*").alias("df"))
    top = vocab.orderBy(F.col("df").desc(), "token").limit(VOCAB_TOP_K)
    w = W.orderBy(F.col("df").desc(), "token")
    return top.select("token", "df", F.row_number().over(w).alias("rank"))


# vocabulary budget: production uses the tokenizer's real size (32k-100k);
# the fixture's token domain is 31 distinct tokens, so the budget is set
# BELOW it — a budget that covers the whole domain would never exercise
# the OOV path and the audit would green-light vacuously
OOV_VOCAB_K = 16


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage audit: per-source out-of-vocabulary token rate
    against the corpus's own top-K term-frequency vocabulary — the check
    a training pipeline runs before committing to a tokenizer/vocab (a
    source with a high OOV rate will tokenize into fragments and train
    badly; per-source rates localize WHERE coverage is poor).

    ONE corpus pass: the exploded token stream aggregates immediately to
    (source, token) partial counts (map-side combine; the exploded rows
    never persist), and that table — token-domain-sized, not corpus-sized
    — is eager-checkpointed and feeds BOTH the vocabulary build (global tf
    = one more tiny agg) and the per-source OOV aggregation. The vocab is
    broadcast back; nothing corpus-sized ever shuffles twice. All counts
    are exact integers, the rate a single IEEE division — value-replayable
    by the oracle."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par)
    toks = docs.select("source", F.explode(tokens(F.col("text"))).alias("token"))
    st = (
        toks.groupBy("source", "token")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    tf = st.groupBy("token").agg(F.sum("n").alias("tf"))
    vocab = tf.orderBy(F.col("tf").desc(), "token").limit(OOV_VOCAB_K)
    marked = st.join(
        F.broadcast(vocab.select("token", F.lit(1).alias("in_vocab"))), "token", "left"
    )
    return (
        marked.groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), F.col("n")).otherwise(F.lit(0))
            ).alias("n_oov"),
        )
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_oov").cast("long").alias("n_oov"),
            F.round(F.col("n_oov") / F.col("n_tokens"), 4).alias("oov_rate"),
        )
    )


BPE_TOP_K = 20
BPE_EOW = "</w>"


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training step (Sennrich, Haddow, Birch, ACL 2016 —
    public literature): the adjacent-symbol-pair frequency table of the
    first merge iteration, occurrence-weighted by word frequency, with the
    end-of-word marker pair included — rank 1 IS the first merge the
    trainer would apply. Output: top-20 candidate pairs with their
    occurrence-weighted counts and distinct-word support.

    Why this is the 100 TB shape: BPE training NEVER iterates over the
    corpus — ONE corpus pass aggregates to the (word, freq) table (Heap's
    law: vocabulary grows ~sqrt of corpus, and is capped in practice), and
    every merge iteration runs on that domain-sized table. Here the corpus
    pass is one explode + partial-agg shuffle keyed on the word; the pair
    fan-out explodes ~|word| rows per VOCAB row (not per corpus token), and
    the pair aggregation's key domain is symbol-pairs. The final top-K is
    TakeOrderedAndProject; the rank window runs over 20 rows. Subsequent
    iterations (apply merge, recount) touch only the same vocab table —
    the per-word resegmentation is driver-free, bounded work a production
    trainer loops in milliseconds.

    Determinism: counts are exact integers; ties break on the pair itself;
    the oracle replays the identical arithmetic (substr is 1-based in both
    engines; DuckDB generate_series(1, 0) and the guarded Spark sequence
    both yield no inner pairs for single-char words)."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par)
    # the ONE corpus-sized pass: word-frequency table (vocab-domain-sized);
    # eager checkpoint — both the inner-pair and end-pair branches consume it
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .localCheckpoint(eager=True)
    )
    # sequence(1, 0) DESCENDS in Spark — clamp the upper bound, then filter
    # the phantom position back out for single-char words
    inner = (
        words.select(
            "w",
            "freq",
            F.explode(
                F.sequence(
                    F.lit(1), F.greatest(F.length("w") - 1, F.lit(1))
                )
            ).alias("i"),
        )
        .filter(F.col("i") <= F.length("w") - 1)
        .select(
            "w",
            "freq",
            F.col("w").substr(F.col("i"), F.lit(1)).alias("sym1"),
            F.col("w").substr(F.col("i") + 1, F.lit(1)).alias("sym2"),
        )
    )
    end = words.select(
        "w",
        "freq",
        F.col("w").substr(F.length("w"), F.lit(1)).alias("sym1"),
        F.lit(BPE_EOW).alias("sym2"),
    )
    pairs = (
        inner.select("w", "freq", "sym1", "sym2")
        .unionByName(end)
        .groupBy("sym1", "sym2")
        .agg(
            F.sum("freq").cast("long").alias("pair_count"),
            F.countDistinct("w").alias("n_words"),
        )
    )
    top = pairs.orderBy(F.col("pair_count").desc(), "sym1", "sym2").limit(
        BPE_TOP_K
    )
    w_r = W.orderBy(F.col("pair_count").desc(), "sym1", "sym2")
    return top.select(
        F.row_number().over(w_r).alias("rank"),
        "sym1",
        "sym2",
        "pair_count",
        "n_words",
    )


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top TF-IDF term per document (smoothed idf = ln((N+1)/(df+1))).

    ONE explode: document frequency is a count window over the tf table
    (tf rows are per-doc-distinct, so count-per-token == docs containing
    the token) — the raw token stream is tokenized, exploded, and
    aggregated exactly once, then flows (doc_id, token) -> token-window ->
    per-doc argmax aggregate. The two-aggregation formulation re-derived the exploded
    stream for the df groupBy (measured 1.27 s vs 0.78 s at sf0.1).
    Ties on score break on the token string — deterministic cross-engine."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par)
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    total = docs.agg(F.count("*").alias("n_docs"))
    score = F.col("tf") * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
    scored = (
        tf.withColumn("df", F.count("*").over(W.partitionBy("token")))
        .crossJoin(F.broadcast(total))
        .withColumn("s", score)
    )
    # top term as min(struct(-s, token, ...)) per doc (r14, guide §2.3):
    # s desc == -s asc, ties to token asc — identical ranking to the
    # former row_number window; tf/df/s ride along as payload ((doc_id,
    # token) is unique in tf, so (s, token) is tie-free per doc). The
    # partial agg collapses each doc map-side where the window sorted the
    # whole per-doc token stream.
    return (
        scored.groupBy("doc_id")
        .agg(
            F.min(
                F.struct((-F.col("s")).alias("ns"), "token", "tf", "df", "s")
            ).alias("best")
        )
        .select(
            "doc_id",
            F.col("best.token").alias("top_term"),
            F.col("best.tf").alias("tf"),
            F.col("best.df").alias("df"),
            F.round("best.s", 4).alias("tfidf"),
        )
    )


def _bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every adjacent token pair (t1, t2) of the corpus, one row each."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par)
    toks = tokens(F.col("text"))
    return docs.select(
        F.explode(
            F.when(F.size(toks) >= 2, _zipped_ngrams(toks, 2)).otherwise(F.array())
        ).alias("b")
    ).select(F.col("b")["0"].alias("t1"), F.col("b")["1"].alias("t2"))


def _term_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, tf): the corpus term-frequency table."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par)
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("tf"))
    )


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model table: for every frequent first token (>= 50
    bigram occurrences), its most likely continuation with the conditional
    probability — the n-gram-LM build step, and the shape of any Markov
    transition-matrix job.

    One explode -> the (t1,t2) partial-count agg, then ONE combinable
    groupBy(t1) computes the per-t1 total AND picks the argmax
    continuation via min(struct(-n_bigram, t2)) in the same pass — no
    window, no per-t1 sort. Ties break on the token."""
    bg = _bigrams(spark, sf_dir)
    pair = bg.groupBy("t1", "t2").agg(F.count("*").alias("n_bigram"))
    # argmax continuation AND the per-t1 total in ONE combinable groupBy
    # (r14, guide §2.3): min(struct(-n_bigram, t2)) == (n_bigram desc,
    # t2 asc), sum(n_bigram) == the former w_tot window — the window+sort
    # pass over the pair table is gone entirely
    return (
        pair.groupBy("t1")
        .agg(
            F.min(
                F.struct((-F.col("n_bigram")).alias("nn"), "t2", "n_bigram")
            ).alias("best"),
            F.sum("n_bigram").alias("n_first"),
        )
        .filter(F.col("n_first") >= BIGRAM_MIN_COUNT)
        .select(
            "t1",
            F.col("best.t2").alias("next_tok"),
            F.col("best.n_bigram").alias("n_bigram"),
            "n_first",
            F.round(F.col("best.n_bigram") / F.col("n_first"), 4).alias("p"),
        )
    )


LM_MIN_BIGRAM = 5     # bigrams below this support are treated as unseen
LM_UNSEEN_LOGP = -14.0  # ~ln(1e-6): backoff log-prob for unseen bigrams
LM_KEEP_LOGP = -6.0   # quality threshold on mean bigram log-prob


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity-proxy quality filter (the CCNet/Gopher model-based
    filtering shape, arXiv:1911.00359 §3 — public literature): score every
    document by its mean bigram log-probability under a language model
    trained on the corpus itself, then flag low-probability (boilerplate /
    gibberish / off-distribution) documents for removal.

    Shape, 100 TB discipline:
    - ONE exploded bigram pass builds the LM: per-(t1,t2) counts and
      per-t1 totals from the same partitionBy(t1) shuffle (the q_bigram_lm
      layout). Support-thresholding (count >= LM_MIN_BIGRAM) bounds the
      LM table the way a real deployment prunes its model — rare bigrams
      back off to LM_UNSEEN_LOGP instead of bloating the join side.
    - The scoring pass re-derives doc bigrams and LEFT-joins the pruned LM
      on (t1,t2); the LM is post-aggregation small (support-bounded), so
      the corpus-sized side shuffles once for its per-doc aggregation and
      the LM join broadcasts at any corpus scale.
    - ln() of identical count ratios rounds at 4 dp on both engines (the
      q_token_pmi precedent).
    """
    scored = _lm_scored(spark, sf_dir)
    return scored.select(
        "doc_id",
        "n_bigrams",
        "mean_logp",
        (F.col("mean_logp") > LM_KEEP_LOGP).alias("keep"),
    )


def _lm_scored(spark: SparkSession, sf_dir: str, *carry: str) -> DataFrame:
    """q_lm_score's per-doc scored relation (doc_id, *carry, n_bigrams,
    mean_logp), factored so q_lm_calibration reuses the identical LM and
    scoring arithmetic. ``carry`` columns (e.g. source) ride the bigram
    fan-out and the per-doc groupBy — doc_id is unique, so extra keys
    change neither groups nor values (and no join-back is needed)."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par)
    toks = tokens(F.col("text"))
    bg = docs.select(
        "doc_id",
        *carry,
        F.explode(
            F.when(F.size(toks) >= 2, _zipped_ngrams(toks, 2)).otherwise(F.array())
        ).alias("b"),
    ).select(
        "doc_id", *carry, F.col("b")["0"].alias("t1"), F.col("b")["1"].alias("t2")
    )

    pair = bg.groupBy("t1", "t2").agg(F.count("*").alias("n_bigram"))
    w_tot = W.partitionBy("t1")
    lm = (
        pair.withColumn("n_first", F.sum("n_bigram").over(w_tot))
        .filter(F.col("n_bigram") >= LM_MIN_BIGRAM)
        .select("t1", "t2", (F.log(F.col("n_bigram") / F.col("n_first"))).alias("logp"))
    )
    return (
        bg.join(F.broadcast(lm), ["t1", "t2"], "left")
        .groupBy("doc_id", *carry)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(F.coalesce(F.col("logp"), F.lit(LM_UNSEEN_LOGP))), 4
            ).alias("mean_logp"),
        )
    )


LMC_T = LM_KEEP_LOGP  # calibration reference point: the deployed threshold


def q_lm_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram over q_lm_score — the calibration table an
    LM-filter deployment reads BEFORE trusting its threshold (Guo et al.,
    "On Calibration of Modern Neural Networks", ICML 2017 — the binned
    predicted-vs-empirical method; public literature): documents bin by
    their mean bigram log-probability (1-nat bins), and each (source, bin)
    reports the PREDICTED keep-rate — the logistic transform
    sigmoid(bin_mid - threshold) a deployment would use as its
    score->probability map, evaluated at the bin midpoint — against the
    EMPIRICAL keep-rate (the fraction actually past the threshold). The
    calib_gap column is the per-bin reliability residual; a well-placed
    threshold shows the empirical step crossing 0.5 inside the bin where
    the sigmoid does.

    Determinism discipline: the empirical rate is an exact integer ratio
    (one division, round 4 dp); the predicted rate is a scalar function
    of the BIN id (sigmoid at the midpoint — no float accumulation over
    rows at all), rounded 6 dp off exp ulp boundaries (the q_dp_counts
    transcendental rule); the gap subtracts two already-rounded values.

    Scale: rides q_lm_score's shuffles (the bigram fan-out and per-doc
    groupBy — `source` carries through, no join-back); the calibration
    rollup itself is a combinable shuffle on a |sources| x ~15-bin key
    domain."""
    scored = _lm_scored(spark, sf_dir, "source")
    binned = scored.select(
        "source",
        F.floor("mean_logp").cast("int").alias("bin"),
        (F.col("mean_logp") > LM_KEEP_LOGP).cast("int").alias("keep"),
    )
    bin_mid = F.col("bin") + F.lit(0.5)
    pred = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-(bin_mid - F.lit(LMC_T)))), 6
    )
    emp = F.round(F.col("n_keep") / F.col("n_docs"), 4)
    return (
        binned.groupBy("source", "bin")
        .agg(F.count("*").alias("n_docs"), F.sum("keep").alias("n_keep"))
        .select(
            "source",
            "bin",
            bin_mid.alias("bin_mid"),
            "n_docs",
            F.col("n_keep").cast("long").alias("n_keep"),
            emp.alias("emp_keep_rate"),
            pred.alias("pred_keep_rate"),
            F.round(pred - emp, 4).alias("calib_gap"),
        )
    )


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-enrichment join: the event stream joined to the customer
    dimension (stream-static broadcast join — dims are loaded per micro-batch
    and never shuffle the stream side), then tumbling 1-day revenue per
    market segment. This is THE streaming enrichment pattern; the batch
    analog here is oracle-checked, and Structured Streaming runs the
    identical plan with readStream + withWatermark (stream-static joins
    need no watermark)."""
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    return (
        events.join(F.broadcast(customer), events.user_id == customer.c_custkey)
        .groupBy(
            F.to_date("ts").alias("day"),
            "c_mktsegment",
        )
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3,4}-[0-9]{3,4}"
PII_IBAN_RE = r"[A-Z]{2}[0-9]{2}[A-Z0-9]{10,30}"
PII_ID_RE = r"[0-9]+"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction battery over four classes — emails, separator phones,
    IBAN-shaped account ids, leftover digit runs — applied in that order so
    each class is counted on the text the previous classes already
    scrubbed (digits inside an email never double-count as an ID run).
    Pure codegen regexp_replace/regexp_count: the 100 TB shape is a narrow
    zero-shuffle map, and the patterns are the deliberately-portable
    subset (no lookaround/backrefs) that Java regex and RE2 share.

    The synthetic corpus carries no contact strings, so the input is a
    DETERMINISTIC contact card synthesized per customer from key fields
    (name + derived email/phone/IBAN) — both engines construct the
    identical string, making the battery non-vacuous for every class AND
    oracle-replayable, which plain fixture text could not give. The
    redaction expressions themselves are input-agnostic."""
    customer = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    email = F.concat(
        F.lower("c_mktsegment"), F.lit("."), key.cast("string"), F.lit("@example.com")
    )
    phone = F.concat(
        F.lit("+1-"),
        F.lpad(((key % 900) + 100).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((key % 100000) * 7 % 10000).cast("string"), 4, "0"),
    )
    iban = F.concat(
        F.lit("DE"),
        F.lpad(((key % 89) + 10).cast("string"), 2, "0"),
        F.lpad(((key % 100000) * 131071 % 10000000000).cast("string"), 16, "0"),
    )
    step0 = F.concat_ws(" ", F.col("c_name"), email, phone, iban)
    step1 = F.regexp_replace(step0, PII_EMAIL_RE, "<EMAIL>")
    step2 = F.regexp_replace(step1, PII_PHONE_RE, "<PHONE>")
    step3 = F.regexp_replace(step2, PII_IBAN_RE, "<IBAN>")
    step4 = F.regexp_replace(step3, PII_ID_RE, "<ID>")
    n_emails = F.regexp_count(step0, F.lit(PII_EMAIL_RE)).cast("int")
    n_phones = F.regexp_count(step1, F.lit(PII_PHONE_RE)).cast("int")
    n_ibans = F.regexp_count(step2, F.lit(PII_IBAN_RE)).cast("int")
    n_ids = F.regexp_count(step3, F.lit(PII_ID_RE)).cast("int")
    return customer.select(
        "c_custkey",
        step4.alias("redacted"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ibans.alias("n_ibans"),
        n_ids.alias("n_ids"),
        ((n_emails + n_phones + n_ibans + n_ids) > 0).alias("had_pii"),
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event funnel: users who viewed, then clicked after first view, then
    purchased after first click — strictly ordered by event time.

    One groupBy(user) with conditional-min aggregates (O(1) state/key,
    map-side combinable) collapses each user's history; the stage counts are
    a second 1-row aggregate. No joins, no windows — the cheapest possible
    funnel at any scale."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    clicked = F.col("t_click") > F.col("t_view")  # null-safe: NULL > x is NULL
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0)).alias("n_view"),
        F.sum(F.when(clicked, 1).otherwise(0)).alias("n_view_click"),
        F.sum(F.when(purchased, 1).otherwise(0)).alias("n_full_funnel"),
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, distinct actives
    per day-offset for the first week.

    The cohort day comes from min(date) OVER (PARTITION BY user) — one
    shuffle on user_id, reused by the subsequent (cohort, offset) aggregate's
    input; the groupBy+self-join alternative shuffles the event table twice."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    cohort = F.min("d").over(W.partitionBy("user_id"))
    return (
        ev.withColumn("cohort_day", cohort)
        .withColumn("day_offset", F.datediff("d", F.col("cohort_day")))
        .filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def q_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / NOT IN subqueries through the SQL surface (Spark SQL is the
    parser — SURVEY §7 non-goals). Catalyst rewrites IN to a left-semi and
    NOT IN to a null-aware left-anti join; both subquery key sets here are
    customer-sized, so AQE broadcasts them at test scale and sort-merges at
    100 TB. Non-vacuous: ~8% of fixture customers carry a negative balance."""
    for t in ("orders", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"inq_{t}")
    return spark.sql(
        """
        SELECT o_orderstatus,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS total_price
        FROM inq_orders
        WHERE o_custkey IN (SELECT c_custkey FROM inq_customer WHERE c_acctbal < 0)
          AND o_custkey NOT IN (
              SELECT c_custkey FROM inq_customer WHERE c_mktsegment = 'BUILDING')
        GROUP BY o_orderstatus
        """
    )


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long melt) of a per-flag aggregate: each metric column
    becomes a (metric, value) row. Spark plans Expand over the 5-row aggregate
    — the melt costs nothing; do it AFTER aggregation, never on the fact
    table (melting first would triple the shuffled rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = drev()
    agg = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("qty"),
        dsum("l_extendedprice").alias("price"),
        dsum_dec(disc_price).alias("disc_price"),
    )
    return agg.unpivot("l_returnflag", ["qty", "price", "disc_price"], "metric", "value")


def q_cross_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-join grid with zero-fill: every (region, order-status) cell, even
    empty ones — the dense-matrix shape reports need. The grid is a cross join
    of two TINY post-aggregation sides (5 x 3 rows); observed counts left-join
    onto it and coalesce to zero. Never cross-join fact tables — build the
    grid from dims, aggregate facts separately, join last."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    statuses = orders.select("o_orderstatus").distinct()
    grid = region.select("r_name").crossJoin(statuses)
    counts = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            dsum("o_totalprice").alias("tot"),
        )
    )
    return grid.join(counts, ["r_name", "o_orderstatus"], "left").select(
        "r_name",
        "o_orderstatus",
        F.coalesce("cnt", F.lit(0)).alias("n_orders"),
        F.coalesce("tot", F.lit(0.0)).alias("total_price"),
    )


PMI_VOCAB = 50
PMI_MIN_COOC = 5


def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over token co-occurrence — the
    association-mining step behind collocation extraction and
    word-embedding preprocessing: for pairs of frequent tokens,
    PMI = ln(df(a,b) * N / (df(a) * df(b))) over document-level presence.

    The 100 TB discipline is the VOCABULARY BOUND: raw pair space is
    |tokens per doc|^2 per document (quadratic, the same disease as
    all-pairs dedup). Restricting to the top-PMI_VOCAB tokens by document
    frequency bounds the per-doc pair fan-out at C(50,2) CONSTANT, and the
    expansion runs as a codegen'd nested-transform over each doc's sorted
    in-vocab token array — no self-join, no shuffle for pair generation;
    the only shuffles are the vocabulary agg and the pair count (both
    map-side combinable): the per-doc in-vocab set is array_intersect
    against the broadcast vocab array, not an explode + set agg (r14).
    df(a), df(b) ride in via a broadcast of the 50-row vocab. The oracle
    replays co-occurrence with a document self-join — fine at oracle
    scale, exactly the shuffle shape the array expansion avoids."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenization, pinned (r14, guide §1.2): the distinct-token
    # array feeds the vocabulary agg, the per-doc in-vocab sets, and the
    # doc count — lazily, each consumer re-tokenized the corpus
    ta = docs.select(
        "doc_id", F.array_distinct(tokens(F.col("text"))).alias("ta")
    ).localCheckpoint(eager=True)
    vocab = (
        ta.select(F.explode("ta").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), "token")
        .limit(PMI_VOCAB)
    )
    # in-vocab sets as array_intersect against the broadcast 50-token
    # vocab array (r14, guide §2.4 "remove shuffles outright"): identical
    # to the former explode -> broadcast-join -> collect_set (both are the
    # set intersection of the doc's distinct tokens with the vocab), but
    # the corpus-sized explode shuffle into the per-doc set agg is gone —
    # pair generation becomes a pure map over the pinned token arrays
    vocab_arr = vocab.agg(F.array_sort(F.collect_set("token")).alias("va"))
    per_doc = (
        ta.crossJoin(F.broadcast(vocab_arr))
        .select(F.array_sort(F.array_intersect("ta", "va")).alias("ts"))
        .filter(F.size("ts") > 0)
    )
    pairs = per_doc.select(
        F.explode(
            F.expr(
                "flatten(transform(ts, (x, i) -> "
                "transform(slice(ts, i + 2, size(ts)), y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    cooc = pairs.groupBy("a", "b").agg(F.count("*").alias("df_ab"))
    # one row per doc in ta (no explode/filter), so this equals the
    # documents count without another scan
    n_docs = ta.agg(F.count("*").alias("n"))
    va = vocab.select(F.col("token").alias("a"), F.col("df").alias("df_a"))
    vb = vocab.select(F.col("token").alias("b"), F.col("df").alias("df_b"))
    return (
        cooc.filter(F.col("df_ab") >= PMI_MIN_COOC)
        .join(F.broadcast(va), "a")
        .join(F.broadcast(vb), "b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "a",
            "b",
            "df_ab",
            F.round(
                F.log(F.col("df_ab") * F.col("n") / (F.col("df_a") * F.col("df_b"))),
                4,
            ).alias("pmi"),
        )
    )


def q_normalize_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user min-max normalization as two window aggregates — pure
    JVM, whole-stage codegen, ONE shuffle on the partition key and no
    per-group Python. The grouped-map (``applyInPandas``) form of the same
    normalization measured ~3x slower at sf0.1 on 8 cores even with the
    entity key bucketed (0.62 s vs 0.21 s), and 28x slower shipping one
    pandas frame per user: the "UDFs are the slow path" rule, measured."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    w = W.partitionBy("user_id")
    lo, hi = F.min("value").over(w), F.max("value").over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.round(
            F.when(hi == lo, 0.5).otherwise((F.col("value") - lo) / (hi - lo)), 6
        ).alias("norm"),
    )


DSIR_BUCKETS = 64  # hashed-bigram feature space (paper: 10k; vocab-scaled)
DSIR_TARGET = "src0"  # the target-domain sample the weights steer toward


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for Language
    Models via Importance Resampling", NeurIPS 2023): per-document log
    importance weight log p_target(x)/p_raw(x) under hashed-bigram
    bag-of-ngrams models — the score that resamples a raw web corpus
    toward a target domain. Features are md5-hashed bigrams in
    DSIR_BUCKETS buckets; both models are add-1-smoothed categorical
    distributions (target = the DSIR_TARGET source's docs, raw = the
    whole corpus).

    Shape: one exploded pass aggregates to (doc, bucket) counts (map-side
    combine); the two bucket marginals are DSIR_BUCKETS-row aggregates of
    that table, broadcast back; the per-doc score folds a SORTED bucket
    list left-to-right (the q_doc_entropy determinism move — a parallel
    double SUM would be reduction-order-dependent). Corpus shuffles once.
    """
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par)
    toks = tokens(F.col("text"))
    bg = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.when(F.size(toks) >= 2, _zipped_ngrams(toks, 2)).otherwise(F.array())
        ).alias("b"),
    ).select(
        "doc_id",
        "source",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.col("b")["0"], F.col("b")["1"])), 1, 15
                ),
                16,
                10,
            ).cast("long"),
            F.lit(DSIR_BUCKETS),
        ).alias("bucket"),
    )
    per_doc = bg.groupBy("doc_id", "source", "bucket").agg(
        F.count("*").alias("c")
    )
    raw = per_doc.groupBy("bucket").agg(F.sum("c").alias("cr"))
    tgt = (
        per_doc.filter(F.col("source") == DSIR_TARGET)
        .groupBy("bucket")
        .agg(F.sum("c").alias("ct"))
    )
    stats = raw.join(tgt, "bucket", "left").select(
        "bucket", "cr", F.coalesce("ct", F.lit(0)).alias("ct")
    )
    totals = stats.agg(
        F.sum("cr").alias("nr"), F.sum("ct").alias("nt")
    )
    folded = (
        per_doc.join(F.broadcast(stats), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("bucket", "c", "ct", "cr"))).alias(
                "bs"
            ),
            F.sum("c").alias("n_bigrams"),
        )
        .crossJoin(F.broadcast(totals))
    )
    logw = F.expr(
        "aggregate(bs, 0.0D, (a, p) -> a + CAST(p.c AS DOUBLE) * ("
        f"ln((CAST(p.ct AS DOUBLE) + 1.0) / (CAST(nt AS DOUBLE) + {DSIR_BUCKETS}))"
        f" - ln((CAST(p.cr AS DOUBLE) + 1.0) / (CAST(nr AS DOUBLE) + {DSIR_BUCKETS}))))"
    )
    return folded.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round(logw, 4).alias("log_weight"),
        (F.round(logw, 4) > 0).alias("target_like"),
    )


# vocabulary-coverage checkpoints: the tokenizer-budget curve is read at
# power-of-two vocab sizes (ranks past the corpus vocab simply don't emit)
COVERAGE_RANKS = (2, 4, 8, 16, 32)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget curve: cumulative term-frequency coverage of the
    top-k vocabulary at power-of-two checkpoints — the measurement that
    decides a vocab size before training (the q_oov_rate audit's planning
    twin). All integer arithmetic until the final ratio, so the curve is
    engine-exact.

    ONE token-count shuffle with map-side combine; ranking + running sum
    then operate on the VOCABULARY (tokenizer-sized: tens of thousands of
    rows at production scale, 31 here), so the single-partition window is
    deliberate and irrelevant at any corpus size."""
    tf = _term_freqs(spark, sf_dir)
    w = W.orderBy(F.col("tf").desc(), "token")
    ranked = tf.select(
        "token", "tf", F.row_number().over(w).alias("rank")
    ).withColumn(
        "cum_tf", F.sum("tf").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    total = tf.agg(F.sum("tf").alias("total_tf"))
    return (
        ranked.filter(F.col("rank").isin(*COVERAGE_RANKS))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rank").alias("vocab_k"),
            "token",
            "cum_tf",
            F.round(F.col("cum_tf") / F.col("total_tf"), 6).alias("coverage"),
        )
    )


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health check: the Zipf exponent — the least-squares slope of
    ln(term frequency) over ln(rank). Natural text sits near -1; a slope
    near 0 means degenerate/templated text, a cliff means a truncated
    domain. Run over the VOCABULARY (tokenizer-sized), not the corpus:
    one token-count shuffle, then the regression folds a SORTED
    collect_list array left-to-right — bit-identical accumulation in both
    engines, where a parallel regr_slope's partial-sum order would not be
    (same determinism move as q_label_centroid's integer sums)."""
    tf = _term_freqs(spark, sf_dir)
    w = W.orderBy(F.col("tf").desc(), "token")
    pts = tf.select(F.row_number().over(w).alias("rank"), "tf").agg(
        F.sort_array(F.collect_list(F.struct("rank", "tf"))).alias("pts")
    )
    x = "ln(CAST(p.rank AS DOUBLE))"
    y = "ln(CAST(p.tf AS DOUBLE))"
    sums = pts.select(
        F.size("pts").alias("n"),
        F.expr(f"aggregate(pts, 0.0D, (a, p) -> a + {x})").alias("sx"),
        F.expr(f"aggregate(pts, 0.0D, (a, p) -> a + {y})").alias("sy"),
        F.expr(f"aggregate(pts, 0.0D, (a, p) -> a + {x} * {y})").alias("sxy"),
        F.expr(f"aggregate(pts, 0.0D, (a, p) -> a + {x} * {x})").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("n").alias("n_tokens"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 4
        ).alias("intercept"),
    )


KN_DISCOUNT = 0.75  # Kneser-Ney absolute discount (Chen & Goodman's D)


def q_kn_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram table (Kneser & Ney, ICASSP 1995;
    Chen & Goodman, 1998 — public literature): for every frequent first
    token, the most likely continuation under the SMOOTHED model
      P_KN(t2|t1) = max(c(t1,t2) - D, 0)/c(t1)
                  + D * N1+(t1,*)/c(t1) * N1+(*,t2)/B
    where N1+(t1,*) / N1+(*,t2) are the distinct-continuation /
    distinct-history counts and B the number of distinct bigram types.
    This is the production n-gram smoothing — the raw-count argmax
    (q_bigram_lm) over-trusts sparse rows; KN's continuation prior can
    and does change the argmax.

    Scale: ONE corpus shuffle (explode -> (t1,t2) partial-count agg with
    map-side combine). Everything after runs on the BIGRAM-TYPE table
    (vocab^2-bounded — Heap's law keeps this tokenizer-sized at 100 TB):
    c(t1) and N1+(t1,*) come from the same partitionBy(t1) sort, N1+(*,t2)
    from a partitionBy(t2) window over the same tiny table, B from a 1-row
    broadcast. All counts are exact integers; the probability arithmetic
    is written in the identical order in both engines."""
    bg = _bigrams(spark, sf_dir)
    # the bigram-type table is consumed by BOTH the B aggregate and the
    # scored windows — eager checkpoint (it is vocab^2-bounded) so the
    # corpus explode+agg runs once, not once per consumer (q_oov_rate's
    # move; without it the plan re-ran the corpus pass: 8 exchanges vs 5)
    pair = (
        bg.groupBy("t1", "t2")
        .agg(F.count("*").alias("c12"))
        .localCheckpoint(eager=True)
    )
    types = pair.agg(F.count("*").alias("bt"))
    w1 = W.partitionBy("t1")
    w2 = W.partitionBy("t2")
    scored = (
        pair.withColumn("c1", F.sum("c12").over(w1))
        .withColumn("fwd", F.count("*").over(w1))
        .withColumn("bwd", F.count("*").over(w2))
        .crossJoin(F.broadcast(types))
    )
    p_kn = (
        F.greatest(F.col("c12") - F.lit(KN_DISCOUNT), F.lit(0.0)) / F.col("c1")
        + F.lit(KN_DISCOUNT) * F.col("fwd") / F.col("c1") * (F.col("bwd") / F.col("bt"))
    )
    # argmax continuation as min(struct(-p, t2, c12)) per t1 (r14, guide
    # §2.3): p desc == -p asc, ties to t2 asc — identical ranking to the
    # former row_number window; c12 is payload (t2 unique per (t1, t2)
    # group). Replaces the final exchange+sort with a partial-aggregated
    # groupBy over the t2-partitioned scored table.
    return (
        scored.filter(F.col("c1") >= BIGRAM_MIN_COUNT)
        .withColumn("p", p_kn)
        .groupBy("t1")
        .agg(
            F.min(
                F.struct((-F.col("p")).alias("np"), "t2", "c12", "p")
            ).alias("best")
        )
        .select(
            "t1",
            F.col("best.t2").alias("next_tok"),
            F.col("best.c12").alias("n_bigram"),
            F.round(F.col("best.p"), 6).alias("p_kn"),
        )
    )


TRIGRAM_MIN_COUNT = 20  # report histories (t1,t2) seen at least this often


def q_kn_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney TRIGRAM table with bigram backoff (Chen &
    Goodman, 1998 — the full recursive formulation q_kn_bigram's top level
    comes from): for every frequent history (t1, t2), the most likely
    continuation under

      P(t3|t1,t2) = max(c123 - D, 0)/c12 + D * N1+(t1 t2 •)/c12 * P_bi(t3|t2)
      P_bi(t3|t2) = max(N1+(• t2 t3) - D, 0)/N1+(• t2 •)
                  + D * N1+(t2 •)/N1+(• t2 •) * (N1+(• t3)/B2)

    — the lower order built from CONTINUATION counts (distinct t1
    contexts), not raw counts: the KN insight that "Francisco" is frequent
    but follows only "San".

    Scale: ONE corpus shuffle (trigram explode -> (t1,t2,t3) partial-count
    agg). Everything downstream runs on the TRIGRAM-TYPE table (bounded by
    Heap's law at any corpus size): the continuation table N1+(• t2 t3) is
    a groupBy over it, its cont2/fwd2/bwd3 come from two windows over the
    vocab^2-bounded (t2,t3) table, c12/fwd12 from one (t1,t2) window, B2
    from a 1-row broadcast. Exact integer counts; the float arithmetic is
    written in the identical order in both engines."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par)
    toks = tokens(F.col("text"))
    tg = docs.select(
        F.explode(
            F.when(F.size(toks) >= 3, _zipped_ngrams(toks, 3)).otherwise(F.array())
        ).alias("g")
    ).select(
        F.col("g")["0"].alias("t1"),
        F.col("g")["1"].alias("t2"),
        F.col("g")["2"].alias("t3"),
    )
    # trigram-type table feeds BOTH the continuation groupBy and the scored
    # windows — checkpoint so the corpus pass runs once (q_kn_bigram's move)
    tri = (
        tg.groupBy("t1", "t2", "t3")
        .agg(F.count("*").alias("c123"))
        .localCheckpoint(eager=True)
    )
    b23 = tri.groupBy("t2", "t3").agg(F.count("*").alias("cont23"))
    w2 = W.partitionBy("t2")
    w3 = W.partitionBy("t3")
    b23s = b23.select(
        "t2",
        "t3",
        "cont23",
        F.sum("cont23").over(w2).alias("cont2"),
        F.count("*").over(w2).alias("fwd2"),
        F.count("*").over(w3).alias("bwd3"),
    )
    b2 = b23.agg(F.count("*").alias("b2"))
    w12 = W.partitionBy("t1", "t2")
    scored = (
        tri.withColumn("c12", F.sum("c123").over(w12))
        .withColumn("fwd12", F.count("*").over(w12))
        .join(b23s, ["t2", "t3"])
        .crossJoin(F.broadcast(b2))
    )
    p_bi = (
        F.greatest(F.col("cont23") - F.lit(KN_DISCOUNT), F.lit(0.0))
        / F.col("cont2")
        + F.lit(KN_DISCOUNT)
        * F.col("fwd2")
        / F.col("cont2")
        * (F.col("bwd3") / F.col("b2"))
    )
    p_tri = (
        F.greatest(F.col("c123") - F.lit(KN_DISCOUNT), F.lit(0.0)) / F.col("c12")
        + F.lit(KN_DISCOUNT) * F.col("fwd12") / F.col("c12") * p_bi
    )
    # argmax continuation as min(struct(-p, t3, c123)) per history (r14,
    # guide §2.3): same move as q_kn_bigram — identical (p desc, t3 asc)
    # ranking, no final exchange+sort over the trigram-type table
    return (
        scored.filter(F.col("c12") >= TRIGRAM_MIN_COUNT)
        .withColumn("p", p_tri)
        .groupBy("t1", "t2")
        .agg(
            F.min(
                F.struct((-F.col("p")).alias("np"), "t3", "c123", "p")
            ).alias("best")
        )
        .select(
            "t1",
            "t2",
            F.col("best.t3").alias("next_tok"),
            F.col("best.c123").alias("n_trigram"),
            F.round(F.col("best.p"), 6).alias("p_kn"),
        )
    )


ASSOC_MIN_SUPPORT = 0.05  # rules must cover >= 5% of the corpus
ASSOC_TOP_K = 20


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining (Agrawal & Srikant, VLDB 1994 — public
    literature): top-20 token-level rules a -> b by lift, with support and
    confidence, over per-document distinct-token baskets. The corpus-
    curation reading: which token strongly predicts which other token —
    boilerplate and template detection.

    Scale: ordered pairs are generated MAP-SIDE from each doc's distinct-
    token array (nested transform + flatten — no self-join, no shuffle of
    exploded items) and aggregate immediately: the ONE corpus shuffle
    carries (a, b) partial counts whose key domain is bounded by the
    frequent-vocabulary square, with map-side combine. Item supports are a
    vocab-sized agg broadcast back twice. The per-doc pair fan-out is
    quadratic in the doc's DISTINCT tokens — production prunes baskets to
    frequent items first (Apriori monotonicity: supp(ab) <= supp(a) makes
    the prune lossless for any support threshold); the fixture vocabulary
    is domain-bounded so the prune is a no-op here and elided. Lift and
    confidence divide exact integer counts cast to double in the same
    order in both engines; ties break on (antecedent, consequent)."""
    par = spark.sparkContext.defaultParallelism
    raw = load_table(spark, sf_dir, "documents")
    docs = raw.repartition(par)
    items = F.array_distinct(tokens(F.col("text")))
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                items,
                lambda a: F.transform(
                    items, lambda b: F.struct(a.alias("a"), b.alias("b"))
                ),
            )
        ),
        lambda s: s["a"] != s["b"],
    )
    pairs = (
        docs.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p")["a"].alias("a"), F.col("p")["b"].alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_both"))
    )
    supp = (
        docs.select(F.explode(items).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("s"))
    )
    # count(*) runs on the RAW scan (parquet row-count statistics — no
    # repartition exchange, no data read)
    n = raw.agg(F.count("*").alias("n_docs"))
    rules = (
        pairs.crossJoin(F.broadcast(n))
        .filter(F.col("n_both") >= F.lit(ASSOC_MIN_SUPPORT) * F.col("n_docs"))
        .join(
            F.broadcast(supp.select(F.col("tok").alias("a"), F.col("s").alias("n_ante"))),
            "a",
        )
        .join(
            F.broadcast(supp.select(F.col("tok").alias("b"), F.col("s").alias("n_cons"))),
            "b",
        )
        .withColumn(
            "lift",
            (F.col("n_both") * F.col("n_docs")).cast("double")
            / (F.col("n_ante") * F.col("n_cons")).cast("double"),
        )
        .withColumn(
            "conf", F.col("n_both").cast("double") / F.col("n_ante").cast("double")
        )
    )
    top = rules.orderBy(F.col("lift").desc(), "a", "b").limit(ASSOC_TOP_K)
    w_r = W.orderBy(F.col("lift").desc(), "a", "b")
    return top.select(
        F.row_number().over(w_r).alias("rank"),
        F.col("a").alias("antecedent"),
        F.col("b").alias("consequent"),
        "n_both",
        "n_ante",
        "n_cons",
        F.round(F.col("conf"), 6).alias("confidence"),
        F.round(F.col("lift"), 6).alias("lift"),
    )


# The bigram LM over a ``bg`` (t1, t2) CTE: log P(t2 | t1) of every bigram
# with at least LM_MIN_BIGRAM occurrences — q_lm_score's and
# q_lm_calibration's model.
_LM_SQL = f"""pair AS (
            SELECT t1, t2, count(*) AS n_bigram FROM bg GROUP BY t1, t2
        ), lm AS (
            SELECT t1, t2, ln(n_bigram * 1.0 / sum(n_bigram) OVER (PARTITION BY t1)) AS logp
            FROM pair
            QUALIFY n_bigram >= {LM_MIN_BIGRAM}
        )"""

ORACLE: dict[str, str] = {
    # Replays the hashed-bigram bucketing, both smoothed marginals, and the
    # sorted per-doc fold (list ORDER BY bucket == Spark's sort_array on a
    # bucket-led struct; docs with < 2 tokens emit no bigrams, as Spark's
    # size guard does).
    "q_dsir_weights": f"""
        WITH bg AS (
            SELECT doc_id, source,
                   ('0x' || substr(md5(w[j] || ' ' || w[j+1]), 1, 15))::BIGINT
                       % {DSIR_BUCKETS} AS bucket
            FROM (SELECT doc_id, source, string_split(text, ' ') AS w
                  FROM documents),
                 unnest(generate_series(1, greatest(len(w) - 1, 0))) AS t(j)
        ), per_doc AS (
            SELECT doc_id, source, bucket, count(*) AS c
            FROM bg GROUP BY 1, 2, 3
        ), raw AS (
            SELECT bucket, sum(c) AS cr FROM per_doc GROUP BY bucket
        ), tgt AS (
            SELECT bucket, sum(c) AS ct FROM per_doc
            WHERE source = '{DSIR_TARGET}' GROUP BY bucket
        ), stats AS (
            SELECT raw.bucket, raw.cr, coalesce(tgt.ct, 0) AS ct
            FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket
        ), totals AS (
            SELECT sum(cr) AS nr, sum(ct) AS nt FROM stats
        ), folded AS (
            SELECT p.doc_id,
                   list(struct_pack(bucket := p.bucket, c := p.c,
                                    ct := s.ct, cr := s.cr)
                        ORDER BY p.bucket) AS bs,
                   sum(p.c) AS n_bigrams
            FROM per_doc p JOIN stats s ON p.bucket = s.bucket
            GROUP BY p.doc_id
        )
        SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
               round(list_sum(list_transform(bs, p ->
                   CAST(p.c AS DOUBLE) * (
                       ln((CAST(p.ct AS DOUBLE) + 1.0)
                          / (CAST(nt AS DOUBLE) + {DSIR_BUCKETS}))
                     - ln((CAST(p.cr AS DOUBLE) + 1.0)
                          / (CAST(nr AS DOUBLE) + {DSIR_BUCKETS}))))), 4)
                   AS log_weight,
               round(list_sum(list_transform(bs, p ->
                   CAST(p.c AS DOUBLE) * (
                       ln((CAST(p.ct AS DOUBLE) + 1.0)
                          / (CAST(nt AS DOUBLE) + {DSIR_BUCKETS}))
                     - ln((CAST(p.cr AS DOUBLE) + 1.0)
                          / (CAST(nr AS DOUBLE) + {DSIR_BUCKETS}))))), 4) > 0
                   AS target_like
        FROM folded, totals
    """,
    "q_vocab_coverage": f"""
        WITH tf AS (
            SELECT token, count(*) AS tf FROM (
                SELECT unnest(string_split(text, ' ')) AS token FROM documents
            ) GROUP BY token
        ), ranked AS (
            SELECT token, tf,
                   CAST(row_number() OVER (ORDER BY tf DESC, token) AS INT)
                       AS rank,
                   sum(tf) OVER (ORDER BY tf DESC, token
                                 ROWS UNBOUNDED PRECEDING) AS cum_tf
            FROM tf
        )
        SELECT rank AS vocab_k, token,
               CAST(cum_tf AS BIGINT) AS cum_tf,
               round(CAST(cum_tf AS DOUBLE)
                     / (SELECT CAST(sum(tf) AS DOUBLE) FROM tf), 6) AS coverage
        FROM ranked WHERE rank IN {COVERAGE_RANKS}
    """,
    "q_zipf_slope": """
        WITH tf AS (
            SELECT token, count(*) AS tf FROM (
                SELECT unnest(string_split(text, ' ')) AS token FROM documents
            ) GROUP BY token
        ), ranked AS (
            SELECT CAST(row_number() OVER (ORDER BY tf DESC, token) AS INT)
                       AS rank, tf
            FROM tf
        ), pts AS (
            SELECT list(struct_pack(rank := rank, tf := tf) ORDER BY rank) AS pts FROM ranked
        ), sums AS (
            SELECT len(pts) AS n,
                   list_sum(list_transform(pts,
                       p -> ln(CAST(p.rank AS DOUBLE)))) AS sx,
                   list_sum(list_transform(pts,
                       p -> ln(CAST(p.tf AS DOUBLE)))) AS sy,
                   list_sum(list_transform(pts,
                       p -> ln(CAST(p.rank AS DOUBLE))
                            * ln(CAST(p.tf AS DOUBLE)))) AS sxy,
                   list_sum(list_transform(pts,
                       p -> ln(CAST(p.rank AS DOUBLE))
                            * ln(CAST(p.rank AS DOUBLE)))) AS sxx
            FROM pts
        )
        SELECT CAST(n AS INT) AS n_tokens,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
                   AS zipf_slope,
               round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                     / n, 4) AS intercept
        FROM sums
    """,
    "q_token_pmi": f"""
        WITH dt AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        vocab AS (
            SELECT token, count(*) AS df FROM dt GROUP BY token
            ORDER BY df DESC, token LIMIT {PMI_VOCAB}
        ),
        iv AS (
            SELECT dt.doc_id, dt.token FROM dt JOIN vocab USING (token)
        ),
        cooc AS (
            SELECT x.token AS a, y.token AS b, count(*) AS df_ab
            FROM iv x JOIN iv y
              ON x.doc_id = y.doc_id AND x.token < y.token
            GROUP BY 1, 2
            HAVING count(*) >= {PMI_MIN_COOC}
        )
        SELECT a, b, df_ab,
               round(ln(df_ab * (SELECT count(*) FROM documents)
                        / (va.df * vb.df)), 4) AS pmi
        FROM cooc
        JOIN vocab va ON va.token = a
        JOIN vocab vb ON vb.token = b
    """,
    "q_normalize_window": """
        SELECT user_id, event_id,
               round(CASE WHEN max(value) OVER w = min(value) OVER w THEN 0.5
                          ELSE (value - min(value) OVER w)
                               / (max(value) OVER w - min(value) OVER w)
                     END, 6) AS norm
        FROM events
        WINDOW w AS (PARTITION BY user_id)
    """,
    "q_lm_score": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), bg AS (
            SELECT doc_id, w[i] AS t1, w[i+1] AS t2
            FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 2
        ), {_LM_SQL}
        SELECT bg.doc_id,
               count(*) AS n_bigrams,
               round(avg(coalesce(lm.logp, {LM_UNSEEN_LOGP})), 4) AS mean_logp,
               round(avg(coalesce(lm.logp, {LM_UNSEEN_LOGP})), 4) > {LM_KEEP_LOGP} AS keep
        FROM bg LEFT JOIN lm ON bg.t1 = lm.t1 AND bg.t2 = lm.t2
        GROUP BY bg.doc_id
    """,
    # Same LM + scoring CTEs as q_lm_score (source carried through the
    # bigram fan-out), then the binned reliability rollup: exact-integer
    # empirical rate, bin-midpoint sigmoid predicted rate (no float
    # accumulation), gap of two rounded values.
    "q_lm_calibration": f"""
        WITH toks AS (
            SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
        ), bg AS (
            SELECT doc_id, source, w[i] AS t1, w[i+1] AS t2
            FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 2
        ), {_LM_SQL}, scored AS (
            SELECT bg.doc_id, bg.source,
                   round(avg(coalesce(lm.logp, {LM_UNSEEN_LOGP})), 4) AS mean_logp
            FROM bg LEFT JOIN lm ON bg.t1 = lm.t1 AND bg.t2 = lm.t2
            GROUP BY bg.doc_id, bg.source
        ), binned AS (
            SELECT source, CAST(floor(mean_logp) AS INT) AS bin,
                   CASE WHEN mean_logp > {LM_KEEP_LOGP} THEN 1 ELSE 0 END AS keep
            FROM scored
        )
        SELECT source, bin, bin + 0.5 AS bin_mid,
               count(*) AS n_docs,
               CAST(sum(keep) AS BIGINT) AS n_keep,
               round(sum(keep) * 1.0 / count(*), 4) AS emp_keep_rate,
               round(1.0 / (1.0 + exp(-(bin + 0.5 - {LM_KEEP_LOGP}))), 6)
                   AS pred_keep_rate,
               round(round(1.0 / (1.0 + exp(-(bin + 0.5 - {LM_KEEP_LOGP}))), 6)
                     - round(sum(keep) * 1.0 / count(*), 4), 4) AS calib_gap
        FROM binned GROUP BY source, bin
    """,
    # Replays the KN interpolation with the identical operation order:
    # exact integer counts from the pair-type table, double division in
    # the same association, argmax on the raw (unrounded) probability
    # with the same (p DESC, t2) tie-break.
    "q_kn_bigram": f"""
        WITH toks AS (
            SELECT string_split(text, ' ') AS w FROM documents
        ), bg AS (
            SELECT w[i] AS t1, w[i+1] AS t2
            FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 2
        ), pair AS (
            SELECT t1, t2, count(*) AS c12 FROM bg GROUP BY 1, 2
        ), types AS (
            SELECT count(*) AS bt FROM pair
        ), scored AS (
            SELECT t1, t2, c12,
                   sum(c12) OVER (PARTITION BY t1) AS c1,
                   count(*) OVER (PARTITION BY t1) AS fwd,
                   count(*) OVER (PARTITION BY t2) AS bwd
            FROM pair
        ), kn AS (
            SELECT t1, t2, c12, c1,
                   greatest(c12 - {KN_DISCOUNT}, 0.0) / c1
                   + {KN_DISCOUNT} * fwd / c1 * (bwd / bt) AS p
            FROM scored, types
            WHERE c1 >= {BIGRAM_MIN_COUNT}
        )
        SELECT t1, t2 AS next_tok, c12 AS n_bigram, round(p, 6) AS p_kn
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY t1 ORDER BY p DESC, t2) AS rn
            FROM kn
        ) WHERE rn = 1
    """,
    # The same trigram + continuation tables, windows and float order as
    # the Spark side — a shared-arithmetic twin; the model-level property
    # (per-history probability mass closes to 1) lives in
    # tests/test_analytics_ops.py where the oracle can't reach.
    "q_kn_trigram": f"""
        WITH toks AS (
            SELECT string_split(text, ' ') AS w FROM documents
        ), tg AS (
            SELECT w[i] AS t1, w[i+1] AS t2, w[i+2] AS t3
            FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
            WHERE len(w) >= 3
        ), tri AS (
            SELECT t1, t2, t3, count(*) AS c123 FROM tg GROUP BY 1, 2, 3
        ), b23 AS (
            SELECT t2, t3, count(*) AS cont23 FROM tri GROUP BY 1, 2
        ), b23s AS (
            SELECT t2, t3, cont23,
                   sum(cont23) OVER (PARTITION BY t2) AS cont2,
                   count(*) OVER (PARTITION BY t2) AS fwd2,
                   count(*) OVER (PARTITION BY t3) AS bwd3
            FROM b23
        ), b2 AS (
            SELECT count(*) AS b2 FROM b23
        ), scored AS (
            SELECT t1, t2, t3, c123,
                   sum(c123) OVER (PARTITION BY t1, t2) AS c12,
                   count(*) OVER (PARTITION BY t1, t2) AS fwd12
            FROM tri
        ), kn AS (
            SELECT s.t1, s.t2, s.t3, s.c123,
                   greatest(s.c123 - {KN_DISCOUNT}, 0.0) / s.c12
                   + {KN_DISCOUNT} * s.fwd12 / s.c12 *
                     (greatest(b.cont23 - {KN_DISCOUNT}, 0.0) / b.cont2
                      + {KN_DISCOUNT} * b.fwd2 / b.cont2 * (b.bwd3 / b2.b2)) AS p
            FROM scored s
            JOIN b23s b ON s.t2 = b.t2 AND s.t3 = b.t3, b2
            WHERE s.c12 >= {TRIGRAM_MIN_COUNT}
        )
        SELECT t1, t2, t3 AS next_tok, c123 AS n_trigram, round(p, 6) AS p_kn
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY t1, t2 ORDER BY p DESC, t3) AS rn
            FROM kn
        ) WHERE rn = 1
    """,
    # Pair supports come from a doc_id-keyed self-join of the distinct-item
    # stream (the declarative twin of Spark's map-side array pair fan-out);
    # lift/confidence divide the identical integer counts cast to double.
    "q_assoc_rules": f"""
        WITH items AS (
            SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
            FROM documents
        ), n AS (
            SELECT count(*) AS n_docs FROM documents
        ), supp AS (
            SELECT tok, count(*) AS s FROM items GROUP BY tok
        ), pairs AS (
            SELECT x.tok AS a, y.tok AS b, count(*) AS n_both
            FROM items x JOIN items y
              ON x.doc_id = y.doc_id AND x.tok <> y.tok
            GROUP BY 1, 2
        ), rules AS (
            SELECT a, b, n_both, sa.s AS n_ante, sb.s AS n_cons,
                   CAST(n_both * n_docs AS DOUBLE)
                       / CAST(sa.s * sb.s AS DOUBLE) AS lift,
                   CAST(n_both AS DOUBLE) / CAST(sa.s AS DOUBLE) AS conf
            FROM pairs
            CROSS JOIN n
            JOIN supp sa ON pairs.a = sa.tok
            JOIN supp sb ON pairs.b = sb.tok
            WHERE n_both >= {ASSOC_MIN_SUPPORT} * n_docs
        )
        SELECT CAST(row_number() OVER (ORDER BY lift DESC, a, b) AS INT) AS rank,
               a AS antecedent, b AS consequent, n_both, n_ante, n_cons,
               round(conf, 6) AS confidence, round(lift, 6) AS lift
        FROM rules ORDER BY lift DESC, a, b LIMIT {ASSOC_TOP_K}
    """,
    "q_bigram_lm": """
        WITH toks AS (
            SELECT string_split(text, ' ') AS w FROM documents
        ), bg AS (
            SELECT w[i] AS t1, w[i+1] AS t2
            FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 2
        ), pair AS (
            SELECT t1, t2, count(*) AS n_bigram FROM bg GROUP BY 1, 2
        ), ranked AS (
            SELECT t1, t2, n_bigram,
                   CAST(sum(n_bigram) OVER (PARTITION BY t1) AS BIGINT) AS n_first,
                   row_number() OVER (
                       PARTITION BY t1 ORDER BY n_bigram DESC, t2) AS rn
            FROM pair
        )
        SELECT t1, t2 AS next_tok, n_bigram, n_first,
               round(n_bigram * 1.0 / n_first, 4) AS p
        FROM ranked WHERE rn = 1 AND n_first >= 50
    """,
    "q_stream_enrich": """
        SELECT CAST(ts AS DATE) AS day, c_mktsegment,
               count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY 1, 2
    """,
    "q_oov_rate": f"""
        WITH toks AS (
            SELECT source, unnest(string_split(text, ' ')) AS token
            FROM documents
        ), st AS (
            SELECT source, token, count(*) AS n FROM toks GROUP BY 1, 2
        ), tf AS (
            SELECT token, CAST(sum(n) AS BIGINT) AS tf FROM st GROUP BY token
        ), vocab AS (
            SELECT token FROM tf ORDER BY tf DESC, token LIMIT {OOV_VOCAB_K}
        )
        SELECT st.source,
               CAST(sum(n) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN v.token IS NULL THEN n ELSE 0 END) AS BIGINT)
                   AS n_oov,
               round(sum(CASE WHEN v.token IS NULL THEN n ELSE 0 END) * 1.0
                     / sum(n), 4) AS oov_rate
        FROM st LEFT JOIN vocab v ON st.token = v.token
        GROUP BY st.source
    """,
    "q_bpe_pairs": f"""
        WITH wf AS (
            SELECT w, count(*) AS freq FROM (
                SELECT unnest(string_split(text, ' ')) AS w FROM documents
            ) t WHERE length(w) > 0 GROUP BY w
        ),
        inner_p AS (
            SELECT w, freq,
                   substr(w, i, 1) AS sym1, substr(w, i + 1, 1) AS sym2
            FROM wf, unnest(generate_series(1, length(w) - 1)) AS t(i)
        ),
        end_p AS (
            SELECT w, freq,
                   substr(w, length(w), 1) AS sym1, '{BPE_EOW}' AS sym2
            FROM wf
        ),
        pairs AS (
            SELECT sym1, sym2,
                   CAST(sum(freq) AS BIGINT) AS pair_count,
                   CAST(count(DISTINCT w) AS BIGINT) AS n_words
            FROM (SELECT * FROM inner_p UNION ALL SELECT * FROM end_p)
            GROUP BY sym1, sym2
        ),
        top AS (
            SELECT * FROM pairs
            ORDER BY pair_count DESC, sym1, sym2 LIMIT {BPE_TOP_K}
        )
        SELECT row_number() OVER (ORDER BY pair_count DESC, sym1, sym2)
                   AS rank,
               sym1, sym2, pair_count, n_words
        FROM top
    """,
    "q_vocab": """
        WITH toks AS (
            SELECT unnest(list_distinct(string_split(text, ' '))) AS token
            FROM documents
        ), v AS (
            SELECT token, count(*) AS df FROM toks GROUP BY token
        ), top AS (
            SELECT token, df FROM v ORDER BY df DESC, token LIMIT 50
        )
        SELECT token, df, row_number() OVER (ORDER BY df DESC, token) AS rank
        FROM top
    """,
    "q_tfidf": """
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ), tf AS (
            SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
        ), dfq AS (
            SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
        ), n AS (
            SELECT count(*) AS n_docs FROM documents
        ), scored AS (
            SELECT doc_id, token, tf, df,
                   tf * ln((n_docs + 1.0) / (df + 1.0)) AS s
            FROM tf JOIN dfq USING (token) CROSS JOIN n
        )
        SELECT doc_id, token AS top_term, tf, df, round(s, 4) AS tfidf
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY s DESC, token) AS rn
            FROM scored
        ) WHERE rn = 1
    """,
    # replays the contact-card synthesis, then the ordered 4-class battery
    # (each class counted on the text the previous classes scrubbed)
    "q_pii_redact": f"""
        WITH card AS (
            SELECT c_custkey,
                   c_name || ' '
                   || lower(c_mktsegment) || '.' || c_custkey || '@example.com'
                   || ' +1-' || lpad(CAST(c_custkey % 900 + 100 AS VARCHAR), 3, '0')
                   || '-' || lpad(CAST((c_custkey % 100000) * 7 % 10000 AS VARCHAR),
                                  4, '0')
                   || ' DE' || lpad(CAST(c_custkey % 89 + 10 AS VARCHAR), 2, '0')
                   || lpad(CAST((c_custkey % 100000) * 131071 % 10000000000
                                AS VARCHAR), 16, '0') AS s0
            FROM customer
        ), steps AS (
            SELECT c_custkey, s0,
                   regexp_replace(s0, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS s1
            FROM card
        ), steps2 AS (
            SELECT *, regexp_replace(s1, '{PII_PHONE_RE}', '<PHONE>', 'g') AS s2
            FROM steps
        ), steps3 AS (
            SELECT *, regexp_replace(s2, '{PII_IBAN_RE}', '<IBAN>', 'g') AS s3
            FROM steps2
        ), counted AS (
            SELECT c_custkey,
                   regexp_replace(s3, '{PII_ID_RE}', '<ID>', 'g') AS redacted,
                   CAST(len(regexp_extract_all(s0, '{PII_EMAIL_RE}')) AS INT)
                       AS n_emails,
                   CAST(len(regexp_extract_all(s1, '{PII_PHONE_RE}')) AS INT)
                       AS n_phones,
                   CAST(len(regexp_extract_all(s2, '{PII_IBAN_RE}')) AS INT)
                       AS n_ibans,
                   CAST(len(regexp_extract_all(s3, '{PII_ID_RE}')) AS INT)
                       AS n_ids
            FROM steps3
        )
        SELECT c_custkey, redacted, n_emails, n_phones, n_ibans, n_ids,
               (n_emails + n_phones + n_ibans + n_ids) > 0 AS had_pii
        FROM counted
    """,
    "q_funnel": """
        WITH per_user AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
            FROM events GROUP BY user_id
        )
        SELECT count(*) AS n_users,
               count(*) FILTER (t_view IS NOT NULL) AS n_view,
               count(*) FILTER (t_click > t_view) AS n_view_click,
               count(*) FILTER (t_click > t_view AND t_purchase > t_click)
                   AS n_full_funnel
        FROM per_user
    """,
    "q_cohort_retention": """
        WITH e AS (
            SELECT user_id, CAST(ts AS DATE) AS d FROM events
        ), c AS (
            SELECT user_id, d,
                   min(d) OVER (PARTITION BY user_id) AS cohort_day
            FROM e
        )
        SELECT cohort_day,
               CAST(datediff('day', cohort_day, d) AS INT) AS day_offset,
               count(DISTINCT user_id) AS n_users
        FROM c
        WHERE datediff('day', cohort_day, d) <= 7
        GROUP BY 1, 2
    """,
    "q_in_subquery": """
        SELECT o_orderstatus,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS total_price
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
          AND o_custkey NOT IN (
              SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        GROUP BY o_orderstatus
    """,
    "q_unpivot": f"""
        WITH a AS (
            SELECT l_returnflag,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS qty,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS price,
                   {dsum_dec_sql(DEC_REV_SQL)} AS disc_price
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, 'qty' AS metric, qty AS value FROM a
        UNION ALL
        SELECT l_returnflag, 'price' AS metric, price AS value FROM a
        UNION ALL
        SELECT l_returnflag, 'disc_price' AS metric, disc_price AS value FROM a
    """,
    "q_cross_join_grid": """
        WITH statuses AS (SELECT DISTINCT o_orderstatus FROM orders),
        grid AS (SELECT r_name, o_orderstatus FROM region CROSS JOIN statuses),
        counts AS (
            SELECT r_name, o_orderstatus,
                   count(*) AS cnt,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS tot
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1, 2
        )
        SELECT g.r_name, g.o_orderstatus,
               coalesce(cnt, 0) AS n_orders,
               coalesce(tot, 0.0) AS total_price
        FROM grid g
        LEFT JOIN counts c
          ON g.r_name = c.r_name AND g.o_orderstatus = c.o_orderstatus
    """,
}
