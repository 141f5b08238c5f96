"""Seeded, Spark-native input generators for the benchmark workloads.

Every value is a pure function of ``(seed, row key, salt)`` through
``xxhash64``, never ``rand()``: the same seed gives content-identical
tables whatever the partitioning, task order or retry history.  The
query tables are the exception: numpy's seeded generator writes them
without Spark.  Each
generator leaves its planted ground truth readable from the data itself
(the planted admission's encounter number, the id range of duplicate
documents, the eval passage inside a contaminated document), so the output
checks recover it without trusting the program under test.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

_SCALE = float(1 << 30)

# 40 syllables -> 1600 two-syllable words: char 5-shingles of unrelated
# documents overlap little (Jaccard well under the 0.7 near-dup threshold)
SYLLABLES = (
    "ka ri to me su na lo vi be de po gu fa xe ji ru mo ta ne sa "
    "bor lin qua tes van dor mil pex zan hul cro fen gar yol wis "
    "tri pla sto gen"
).split()


def _h(seed: int, salt: str, *cols) -> Column:
    return F.xxhash64(F.lit(seed), F.lit(salt), *cols)


def uniform(seed: int, salt: str, *cols) -> Column:
    """Uniform double in [0, 1) from (seed, salt, cols)."""
    return F.pmod(_h(seed, salt, *cols), F.lit(1 << 30)).cast("double") / _SCALE


def pick(seed: int, salt: str, n: int, *cols) -> Column:
    """Uniform integer in [0, n)."""
    return F.pmod(_h(seed, salt, *cols), F.lit(n)).cast("int")


def choice(values: list, seed: int, salt: str, *cols) -> Column:
    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(arr, pick(seed, salt, len(values), *cols) + 1)


# ---------------------------------------------------------------------------
# i2b2 star schema (phase11_extract)
# ---------------------------------------------------------------------------

SEVERE = ["ICD10CM:J80", "ICD10CM:J96.0", "PROC:VENT"]
MAPPED_LABS = ["LOINC:1742-6", "LOINC:1751-7", "LOINC:2160-0", "LOINC:1988-5", "LOINC:6690-2"]
MAPPED_MEDS = ["RXNORM:ACEI1", "RXNORM:HCQ1", "RXNORM:SIANES1"]


def _rank(seed: int, salt: str, col: str) -> Column:
    """0-based rank of each row in a seeded hash order of ``col``: a
    seeded permutation, so shares cut from it are exact, not binomial."""
    return F.row_number().over(Window.orderBy(_h(seed, salt, F.col(col)), F.col(col))) - 1


def _quantile(seed: int, salt: str, col: str, group: Column) -> Column:
    """Mid-point quantile in (0, 1) of each row in a seeded hash order of
    ``col`` within its ``group``."""
    w = Window.partitionBy(group)
    rank = F.row_number().over(w.orderBy(_h(seed, salt, F.col(col)), F.col(col))) - 1
    return (rank + F.lit(0.5)) / F.count("*").over(w)


def _patients_base(spark: SparkSession, n_patients: int, seed: int) -> DataFrame:
    """One row per patient with the planted roles.  Positive, admitted
    and severe patients are exact prefixes of one seeded permutation
    (9% positive, 80% of those admitted, 25% of admissions severe), and
    the facts and background visits per patient are the quantiles of a
    second and third permutation, taken within the cohort and within the
    rest: every seed gives the same cohort size and the same fact counts
    in and out of the cohort, so sizes and timings compare across seeds."""
    n_pos, p = round(0.09 * n_patients), F.col("patient_num")
    n_adm = round(0.8 * n_pos)
    n_sev = round(0.25 * n_adm)
    role = F.col("role")
    pos = role < n_pos
    admitted = role < n_adm
    pos_date = F.date_add(F.lit("2020-03-01").cast("date"), pick(seed, "posd", 270, p))
    index_date = F.when(pos, pos_date).otherwise(
        F.date_add(F.lit("2020-01-01").cast("date"), pick(seed, "idx", 366, p))
    )
    adm_date = F.date_add(pos_date, pick(seed, "admo", 22, p) - 7)
    los = F.least(
        F.lit(60), (F.lit(1) - F.log(F.lit(1.0) - uniform(seed, "los", p)) * 5).cast("int")
    )
    dead = (admitted & (uniform(seed, "dead", p) < 0.08)) | (
        uniform(seed, "deadx", p) < 0.01
    )
    return (
        spark.range(1, n_patients + 1)
        .select(F.col("id").alias("patient_num"))
        .select("patient_num", _rank(seed, "role", "patient_num").alias("role"))
        .select(
            "patient_num",
            "role",
            _quantile(seed, "nf", "patient_num", role < n_adm).alias("q_facts"),
            _quantile(seed, "nv", "patient_num", role < n_adm).alias("q_visits"),
        )
        .select(
            "patient_num",
            "q_facts",
            "q_visits",
            pos.alias("pos"),
            admitted.alias("admitted"),
            pos_date.alias("pos_date"),
            index_date.alias("index_date"),
            adm_date.alias("adm_date"),
            los.alias("los"),
            (role < n_sev).alias("severe"),
            dead.alias("dead"),
        )
    )


def planted_counts(n_patients: int) -> dict[str, int]:
    """Closed-form cohort and severe counts of :func:`i2b2_tables`."""
    n_adm = round(0.8 * round(0.09 * n_patients))
    return {"cohort": n_adm, "severe": round(0.25 * n_adm)}


def i2b2_tables(spark: SparkSession, n_patients: int, seed: int) -> dict[str, DataFrame]:
    """observation_fact / patient_dimension / visit_dimension with 7.2%
    cohort selectivity, a long (Pareto) tail of facts per patient and a
    share of unmapped concepts.  Planted markers: a cohort member's
    admission is the inpatient visit with encounter_num = patient_num * 100
    (background visits count up from patient_num * 100 + 1), and a severe
    member's severe-concept fact carries that same encounter number.
    The patient frame behind all three is cached: unpersist after writing."""
    base = _patients_base(spark, n_patients, seed).cache()  # read by all three tables
    p = F.col("patient_num")
    discharge = F.date_add("adm_date", F.col("los"))
    death_date = F.when(
        F.col("dead"),
        F.when(F.col("admitted"), F.date_add(discharge, pick(seed, "dd", 10, p))).otherwise(
            F.date_add("index_date", pick(seed, "ddx", 300, p))
        ),
    )
    age = pick(seed, "age", 100, p)
    patients = base.select(
        "patient_num",
        F.date_sub(F.col("index_date"), age * 365 + pick(seed, "bday", 365, p)).alias("birth_date"),
        death_date.alias("death_date"),
        F.when(F.col("dead"), "D").otherwise("N").alias("vital_status_cd"),
        F.when(uniform(seed, "sex", p) < 0.48, "M")
        .when(uniform(seed, "sex", p) < 0.98, "F")
        .otherwise("U")
        .alias("sex_cd"),
        choice(["white", "black", "asian", "hispanic", "other"], seed, "race", p).alias("race_cd"),
        age.alias("age_in_years_num"),
    )

    # visits: 1 + Exp(2) background outpatient/emergency (inpatient only
    # for patients who never tested positive), plus the planted admission
    n_bg = F.least(F.lit(20), (F.lit(1) - F.log(F.lit(1.0) - F.col("q_visits")) * 2).cast("int"))
    v = F.col("v")
    bg_start = F.date_add("index_date", pick(seed, "vd", 800, p, v) - 400)
    bg = base.select("*", F.explode(F.sequence(F.lit(1), n_bg)).alias("v")).select(
        (p * 100 + v).alias("encounter_num"),
        "patient_num",
        bg_start.alias("start_date"),
        F.date_add(bg_start, pick(seed, "vl", 3, p, v)).alias("end_date"),
        F.when(~F.col("pos") & (uniform(seed, "vi", p, v) < 0.1), "I")
        .when(uniform(seed, "vi", p, v) < 0.6, "O")
        .otherwise("E")
        .alias("inout_cd"),
    )
    adm = base.filter("admitted").select(
        (p * 100).alias("encounter_num"),
        "patient_num",
        F.col("adm_date").alias("start_date"),
        discharge.alias("end_date"),
        F.lit("I").alias("inout_cd"),
    )
    visits = bg.unionByName(adm)

    # facts: Pareto(alpha=1.5, m=8) per patient, capped at 400 so one
    # extreme patient cannot swing a seed's output size
    n_f = F.least(
        F.lit(400),
        (F.lit(8.0) * F.pow(F.lit(1.0) - F.col("q_facts"), F.lit(-1 / 1.5))).cast("int"),
    )
    j = F.col("j")
    kind = uniform(seed, "kind", p, j)
    sub = uniform(seed, "sub", p, j)
    code_n = pick(seed, "code", 1000, p, j)
    icd10 = F.concat(
        F.lit("ICD10CM:"),
        F.element_at(F.array(*[F.lit(c) for c in "ABCDEFGHIKLMNRSTUZ"]), pick(seed, "l", 18, p, j) + 1),
        F.lpad((code_n % 20).cast("string"), 2, "0"),
        F.lit("."),
        (code_n % 7).cast("string"),
    )
    concept = (
        F.when(kind < 0.35, F.when(sub < 0.8, choice(MAPPED_LABS, seed, "lab", p, j)).otherwise(
            F.concat(F.lit("LOINC:9"), code_n.cast("string"), F.lit("-1"))
        ))
        .when(kind < 0.55, icd10)
        .when(kind < 0.65, F.concat(F.lit("ICD10PCS:0"), code_n.cast("string")))
        .when(kind < 0.85, F.when(sub < 0.5, choice(MAPPED_MEDS, seed, "med", p, j)).otherwise(
            F.concat(F.lit("RXNORM:OTHER"), code_n.cast("string"))
        ))
        .otherwise(F.concat(F.lit("LOCAL:"), code_n.cast("string")))
    )
    bg_facts = base.select("*", F.explode(F.sequence(F.lit(1), n_f)).alias("j")).select(
        "patient_num",
        (p * 100 + pick(seed, "enc", 3, p, j) + 1).alias("encounter_num"),
        concept.alias("concept_cd"),
        F.date_add("index_date", pick(seed, "fd", 800, p, j) - 400).alias("start_date"),
        F.when(kind < 0.35, F.round(F.lit(5.0) + uniform(seed, "val", p, j) * 95, 2)).alias("nval_num"),
    )
    pos_facts = base.filter("pos").select(
        "patient_num",
        (p * 100).alias("encounter_num"),
        F.lit("COVID:POS").alias("concept_cd"),
        F.col("pos_date").alias("start_date"),
        F.lit(None).cast("double").alias("nval_num"),
    )
    retest = base.filter(F.col("pos") & (uniform(seed, "retest", p) < 0.3)).select(
        "patient_num",
        (p * 100).alias("encounter_num"),
        F.lit("COVID:POS").alias("concept_cd"),
        F.date_add("pos_date", pick(seed, "rt", 18, p) + 3).alias("start_date"),
        F.lit(None).cast("double").alias("nval_num"),
    )
    sev_facts = base.filter("severe").select(
        "patient_num",
        (p * 100).alias("encounter_num"),
        choice(SEVERE, seed, "sevc", p).alias("concept_cd"),
        F.date_add("adm_date", pick(seed, "sevd", 1 << 20, p) % F.col("los")).alias("start_date"),
        F.lit(None).cast("double").alias("nval_num"),
    )
    facts = bg_facts.unionByName(pos_facts).unionByName(retest).unionByName(sev_facts)
    return {"observation_fact": facts, "patient_dimension": patients, "visit_dimension": visits}


# ---------------------------------------------------------------------------
# text (curate_ingest_query)
# ---------------------------------------------------------------------------


def _word(seed: int, salt: str, *cols) -> Column:
    w = pick(seed, salt, len(SYLLABLES) ** 2, *cols)
    syl = F.array(*[F.lit(s) for s in SYLLABLES])
    n = len(SYLLABLES)
    return F.concat(F.element_at(syl, w % n + 1), F.element_at(syl, (w / n).cast("int") + 1))


def doc_text(seed: int, cid: Column, variant: Column | None = None) -> Column:
    """Multi-line text of content id ``cid``: 3-6 lines of 6-14 words.
    ``variant`` > 0 gives a near-duplicate: two words substituted (char
    5-shingle Jaccard ~0.85 with the original)."""
    var = F.lit(0) if variant is None else variant
    n_lines = pick(seed, "nl", 4, cid) + 3

    def line(l):
        n_words = pick(seed, "nw", 9, cid, l) + 6

        def word(i):
            mutated = (var > 0) & (((l == 0) & (i == 1)) | ((l == 1) & (i == 2)))
            return _word(seed, "w", cid, l, i, F.when(mutated, var).otherwise(F.lit(0)))

        return F.array_join(F.transform(F.sequence(F.lit(0), n_words - 1), word), " ")

    return F.array_join(F.transform(F.sequence(F.lit(0), n_lines - 1), line), "\n")


def _passage(seed: int, salt: str, eid: Column, n_words: int) -> Column:
    return F.array_join(
        F.transform(F.sequence(F.lit(0), F.lit(n_words - 1)), lambda i: _word(seed, salt, eid, i)),
        " ",
    )


BOILERPLATE = [
    "all rights reserved terms of use privacy policy",
    "subscribe to our newsletter for weekly updates",
    "share this page on social media",
    "cookies help us deliver our services",
    "back to top of the page",
    "related articles you may also like",
]


def _with_boilerplate(seed: int, root: Column, text: Column) -> Column:
    parts = [text]
    for k, line in enumerate(BOILERPLATE):
        parts.append(F.when(uniform(seed, f"bp{k}", root) < 0.25, F.lit("\n" + line)).otherwise(F.lit("")))
    return F.concat(*parts)


def curation_corpus(
    spark: SparkSession, n_docs: int, seed: int, dup_share: float = 0.15, n_evals: int = 50
) -> tuple[DataFrame, DataFrame, int]:
    """(corpus, evals, n_roots).  Root documents take ids [0, n_roots);
    duplicate documents take the ids above, each an exact (half) or near
    (half) copy of a hash-chosen root, so every planted family's lowest id
    is its root.  ~2% of roots carry a 40-word eval passage as an extra
    line (contamination, inherited by their copies); each boilerplate line
    appears in 25% of documents."""
    n_roots = int(n_docs * (1 - dup_share))
    d = F.col("doc_id")
    is_dup = d >= n_roots
    root = F.when(is_dup, pick(seed, "root", n_roots, d).cast("long")).otherwise(d)
    near = is_dup & (uniform(seed, "near", d) < 0.5)
    contaminated = uniform(seed, "cont", F.col("root")) < 0.02
    eval_id = pick(seed, "eid", n_evals, F.col("root")).cast("long")
    base = spark.range(n_docs).select(F.col("id").alias("doc_id")).select(
        "doc_id", root.alias("root"), is_dup.alias("is_dup"), near.alias("near")
    )
    body = doc_text(seed, F.col("root"), F.when(F.col("near"), pick(seed, "var", 1000, d) + 1))
    text = F.concat(
        body,
        F.when(contaminated, F.concat(F.lit("\n"), _passage(seed, "eval", eval_id, 40))).otherwise(F.lit("")),
    )
    corpus = base.select(
        "doc_id",
        _with_boilerplate(seed, F.col("root"), text).alias("text"),
        F.concat(F.lit("src"), pick(seed, "src", 20, d).cast("string")).alias("source"),
    )
    evals = spark.range(n_evals).select(
        F.col("id").alias("eval_id"), _passage(seed, "eval", F.col("id"), 40).alias("text")
    )
    return corpus, evals, n_roots


def ingest_batches(
    spark: SparkSession, seed: int, n_batches: int, n_new: int, n_dups: int, n_initial: int
) -> DataFrame:
    """Crawl batches: each has ``n_new`` fresh documents plus ``n_dups``
    exact or near copies of documents ingested before it (the initial
    corpus or an earlier batch's fresh documents).  Fresh documents of
    batch b take content ids ``n_initial + b * n_new + k``; copies take ids
    from 10**9 up.  Returns (batch, doc_id, text, is_dup)."""
    i = F.col("id")
    fresh = spark.range(n_batches * n_new).select(
        (i / n_new).cast("int").alias("batch"),
        (i + n_initial).alias("doc_id"),
        doc_text(seed, i + n_initial).alias("text"),
        F.lit(False).alias("is_dup"),
    )
    batch = (i / n_dups).cast("int")
    earlier = F.lit(n_initial) + batch * n_new  # content ids ingested before the batch
    src = F.pmod(_h(seed, "isrc", i), earlier).cast("long")
    near = uniform(seed, "inear", i) < 0.5
    dups = spark.range(n_batches * n_dups).select(
        batch.alias("batch"),
        (i + 10**9).alias("doc_id"),
        doc_text(seed, src, F.when(near, pick(seed, "ivar", 1000, i) + 1)).alias("text"),
        F.lit(True).alias("is_dup"),
    )
    return fresh.unionByName(dups)


def initial_corpus(spark: SparkSession, seed: int, n_initial: int) -> DataFrame:
    return spark.range(n_initial).select(
        F.col("id").alias("doc_id"), doc_text(seed, F.col("id")).alias("text")
    )


# ---------------------------------------------------------------------------
# TPC-H-ish query tables (curate_ingest_query): the shapes of the registry's inputs
# ---------------------------------------------------------------------------

TPCH_WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()


def query_tables(root: str, scale: float, seed: int) -> dict[str, str]:
    """customer/orders/events/documents/embeddings with the registry's
    schemas (the tables ``IngestQuery``'s queries read), one parquet file
    each under ``root``; returns name -> path.  Written with numpy and
    pyarrow, not Spark: they are the queries' inputs, not a workload's
    subject, and a Spark job per table would double the set-up of a fresh
    JVM.  ``scale`` 0.01 gives 1.5k customers, 15k orders, 10k events,
    500 documents and 500 embeddings."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_ev = int(150_000 * scale), int(1_500_000 * scale), int(1_000_000 * scale)
    n_users, n_docs, n_emb = int(15_000 * scale), int(50_000 * scale), int(50_000 * scale)

    def pick(values: list, n: int) -> list:
        return [values[k] for k in rng.integers(0, len(values), n)]

    def money(lo: float, width: float, n: int):
        return np.round(lo + rng.random(n) * width, 2)

    def days(start: str, n_days: int, n: int):
        return np.datetime64(start, "us") + rng.integers(0, n_days, n) * np.timedelta64(86400_000_000, "us")

    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 10999.98, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 499000.0, n_ord),
        "o_orderdate": pa.array(days("1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    span_us = 30 * 86400 * 1_000_000
    ts = (np.datetime64("2024-01-01", "us") + (np.arange(n_ev) * span_us // n_ev
                                                + rng.integers(0, 1_000_000, n_ev)).astype("timedelta64[us]"))
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": money(0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # 9-98 words each; 5% of documents repeat another's text plus " dup"
    texts = [" ".join(pick(TPCH_WORDS, int(rng.integers(9, 99)))) for _ in range(n_docs)]
    for k in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[k] = texts[int(rng.integers(0, n_docs))].removesuffix(" dup") + " dup"
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": pick(["en", "en", "en", "zh", "de", "fr", "es"], n_docs),
        "source": [f"src{k % 20}" for k in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    # ten clusters of unit vectors in 64 dimensions
    label = rng.integers(0, 10, n_emb)
    raw = rng.standard_normal((10, 64))[label] + 0.6 * rng.standard_normal((n_emb, 64))
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(unit), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    tables = {"customer": customer, "orders": orders, "events": events,
              "documents": documents, "embeddings": embeddings}
    os.makedirs(root, exist_ok=True)
    paths = {name: os.path.join(root, f"{name}.parquet") for name in tables}
    for name, table in tables.items():
        pq.write_table(table, paths[name])
    return paths
