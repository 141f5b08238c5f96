"""The benchmark workloads: set-up (generate + expected values), one timed
operation, and the output checks of that operation.

Each workload calls the package only through its public entry points, and
wraps every call in a span named after the module it enters.
"""

from __future__ import annotations

import glob
import hashlib
import json
import numbers
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import gen

I2B2_TABLES = ("observation_fact", "patient_dimension", "visit_dimension")
ARTIFACTS = ("DailyCounts", "ClinicalCourse", "Demographics", "Labs", "Diagnoses", "Medications")
# artifact -> registry query whose DuckDB oracle defines its rows
ARTIFACT_ORACLES = {
    "DailyCounts": "q_covid_daily_counts",
    "ClinicalCourse": "q_covid_clinical_course",
    "Demographics": "q_covid_demographics",
    "Labs": "q_covid_labs",
    "Diagnoses": "q_covid_diagnoses",
    "Medications": "q_covid_medications",
}


@dataclass
class OpResult:
    seconds: float  # timed part of the operation
    out_dir: str
    cpu_s: float = 0.0  # CPU of the whole process tree over the operation and its checks
    problems: list[str] = field(default_factory=list)
    persisted_bytes: int = 0
    blocks_left: int = 0
    files: int = 0  # data files written
    out_bytes: int = 0
    dup_recall: float | None = None
    dup_precision: float | None = None
    # IngestQuery only
    epoch_s: list[float] = field(default_factory=list)  # from the query's progress reports
    epoch_dirs: list[str] = field(default_factory=list)
    segment_rows: set = field(default_factory=set)  # doc ids landed in the segment
    segment_dups: set = field(default_factory=set)  # the planted duplicates among them
    compact_s: float = 0.0
    compact_bytes: int = 0  # index bytes the compaction wrote
    trigger_overhead_s: float = 0.0
    index_files: int = 0
    index_bytes: int = 0
    duplication_ratio: float = 0.0
    corpus_bytes: int = 0
    query_rows: dict = field(default_factory=dict)  # query -> its result rows


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(f))


def data_files(path: str, suffix: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", f"part-*{suffix}"), recursive=True))


def storage(spark) -> tuple[int, int]:
    """(bytes, cached partitions) held in Spark block storage."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return (sum(int(i.memSize()) + int(i.diskSize()) for i in infos),
            sum(int(i.numCachedPartitions()) for i in infos))


def write_tables(tables: dict, root: str, parts: int = 4) -> dict[str, str]:
    paths = {}
    for name, df in tables.items():
        paths[name] = os.path.join(root, name)
        df.coalesce(parts).write.mode("overwrite").parquet(paths[name])
    return paths


def parquet_files(path: str) -> list[str]:
    """``path`` itself when it is a parquet file, else the parquet files in it."""
    return [path] if path.endswith(".parquet") else glob.glob(os.path.join(path, "*.parquet"))


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in parquet_files(path))


def parquet_digest(paths: dict[str, str]) -> str:
    """Order-insensitive digest of written parquet inputs, each a file or
    a directory of files (DuckDB, no Spark job): equal across generations
    of one seed."""
    import duckdb

    con = duckdb.connect()
    try:
        h = hashlib.sha1()
        for name in sorted(paths):
            files = sorted(parquet_files(paths[name]))
            row = con.execute(f"SELECT count(*), bit_xor(hash(t)) FROM "
                              f"read_parquet({files!r}) t").fetchone()
            h.update(f"{name}:{row[0]}:{row[1]};".encode())
        return h.hexdigest()[:16]
    finally:
        con.close()


def canon(v) -> str:
    """One cell as text, for comparing a CSV cell with a DuckDB value:
    NULL/NaN -> "", integral numbers -> integer text, dates -> ISO."""
    import pandas as pd

    if pd.isna(v):
        return ""
    if hasattr(v, "isoformat"):
        return v.isoformat()[:10] if getattr(v, "hour", 0) == 0 else v.isoformat()
    if isinstance(v, numbers.Number):
        f = float(v)
        return str(int(f)) if f == int(f) else repr(f)
    return str(v)


def same_number(got: str, want) -> bool:
    """A CSV cell against a DuckDB value: both empty, or equal as text,
    or equal as numbers to 1e-6 relative."""
    w = canon(want)
    if got == w:
        return True
    try:
        g, f = float(got), float(w)
    except ValueError:
        return False
    return abs(g - f) <= 1e-6 * max(1.0, abs(f))


def compare_artifact(name: str, header: list[str], rows: list[list[str]], want, keys: list[str],
                     counts: list[str], blur: int, mask: int, sentinel: int) -> list[str]:
    """An exported artifact (CSV header and rows, in file order) against
    its un-obfuscated DuckDB oracle rows ``want`` (a DataFrame in key
    order).  Keys and their order must match; a count the oracle puts
    below ``mask`` must read ``sentinel``, any other count must lie within
    ``blur`` of the oracle's and not below 0; every other cell must equal
    the oracle's."""
    if sorted(header) != sorted(want.columns):
        return [f"{name}: columns {header}, oracle {list(want.columns)}"]
    col = {c: k for k, c in enumerate(header)}
    got_keys = [tuple(r[col[k]] for k in keys) for r in rows]
    want_keys = [tuple(canon(v) for v in t) for t in want[keys].itertuples(index=False)]
    if got_keys != want_keys:
        return [f"{name}: keys or their order differ from the oracle's "
                f"({len(got_keys)} vs {len(want_keys)} rows)"]
    bad = []
    for r, w in zip(rows, want.to_dict("records")):
        for c in header:
            g = r[col[c]]
            if c in counts:
                ok = (int(g) == sentinel if w[c] < mask
                      else 0 <= int(g) and abs(int(g) - w[c]) <= blur)
            else:
                ok = same_number(g, w[c])
            if not ok:
                bad.append(f"{name}: {c}={g} at {tuple(r[col[k]] for k in keys)}, oracle {w[c]}")
    return bad[:5]


class Phase11Extract:
    """4CE Phase 1.1: i2b2 star schema -> cohort -> six obfuscated CSVs.

    4,000 patients give a 288-member cohort: the 4CE consortium's first
    report (Brat et al., npj Digital Medicine 3:109, 2020) pooled 27,584
    COVID-19 patients from 96 hospitals, 287 per hospital, with 187,802
    lab values, 6.8 per patient; the generator plants ~5.9 mapped lab
    facts per patient."""

    name = "phase11_extract"
    n_patients = 4000

    def __init__(self, bench):
        self.b = bench
        self.digests: dict[str, str] = {}

    def output_digest(self) -> str:
        """Digest of the first operation's artifacts: equal across runs of one seed."""
        return hashlib.sha1(repr(sorted(self.digests.items())).encode()).hexdigest()[:16]

    def generate(self, root: str) -> None:
        b = self.b
        self.paths = write_tables(gen.i2b2_tables(b.spark, self.n_patients, b.seed), root)
        b.spark.catalog.clearCache()
        self.input_rows = sum(parquet_rows(p) for p in self.paths.values())
        self.input_bytes = sum(dir_bytes(p) for p in self.paths.values())
        self.input_digest = parquet_digest(self.paths)

    def prepare(self) -> None:
        b = self.b
        self.planted, self.expected = self._duckdb_expected()
        b.run_problems += [f"planted {k}={v} but the cohort oracle finds {self.expected[k]}"
                             for k, v in self.planted.items() if self.expected[k] != v]
        b.run_problems += [f"closed form {k}={v} but the generator planted {self.planted[k]}"
                             for k, v in gen.planted_counts(self.n_patients).items()
                             if self.planted[k] != v]
        from covid19i2b2_spark.operators.obfuscation import ObfuscationConfig
        from covid19i2b2_spark.pipelines.covid import CovidConfig

        # blur and mask on, delete off: the rows stay those of the oracle
        self.cfg = CovidConfig(obfuscation=ObfuscationConfig(blur=2, small_count_mask=10, seed=b.seed))

    def _duckdb_expected(self) -> tuple[dict, dict]:
        """(planted, expected): the cohort figures the generator planted,
        read back from its markers, and the cohort figures of the
        registry's DuckDB cohort oracle.  Also keeps each artifact's
        un-obfuscated oracle rows.  The oracles are re-pointed from the
        testdata adapter to the generated i2b2 parquet."""
        import duckdb

        from covid19i2b2_spark.pipelines.adapter import ADAPTER_SQL
        from covid19i2b2_spark.registry import REGISTRY, all_queries

        all_queries()
        head = ADAPTER_SQL[: ADAPTER_SQL.index("covid_pos AS (")]
        prefix = (
            "WITH obs AS (SELECT patient_num, encounter_num, concept_cd, start_date, nval_num "
            "FROM i2b2_obs),\nvisits AS (SELECT encounter_num, patient_num, start_date, end_date, "
            "inout_cd FROM i2b2_visits),\npatients AS (SELECT patient_num, sex_cd, race_cd, "
            "age_in_years_num, death_date FROM i2b2_patients),\n"
        )

        def sql(query: str) -> str:
            oracle = REGISTRY[query].oracle
            if not oracle.startswith(head):
                raise RuntimeError(f"{query}: oracle no longer starts with the adapter CTEs")
            return prefix + oracle[len(head):]

        con = duckdb.connect()
        try:
            for view, table in (("i2b2_obs", "observation_fact"), ("i2b2_visits", "visit_dimension"),
                                ("i2b2_patients", "patient_dimension")):
                con.execute(f"CREATE VIEW {view} AS SELECT * FROM "
                            f"read_parquet('{self.paths[table]}/*.parquet')")
            c = con.execute(f"SELECT count(*), sum(severe), count(death_date) FROM "
                            f"({sql('q_covid_cohort')})").fetchone()
            out = {"cohort": c[0], "severe": int(c[1] or 0), "dead": c[2]}
            self.oracle_rows = {art: con.execute(sql(q)).df() for art, q in ARTIFACT_ORACLES.items()}
            severe = ", ".join(f"'{c}'" for c in gen.SEVERE)
            p = con.execute(f"""
                WITH adm AS (SELECT DISTINCT patient_num FROM i2b2_visits
                             WHERE encounter_num = patient_num * 100)
                SELECT count(*),
                       count(*) FILTER (WHERE patient_num IN (
                           SELECT patient_num FROM i2b2_obs WHERE encounter_num = patient_num * 100
                           AND concept_cd IN ({severe}))),
                       count(*) FILTER (WHERE patient_num IN (
                           SELECT patient_num FROM i2b2_patients WHERE death_date IS NOT NULL))
                FROM adm""").fetchone()
            planted = {"cohort": p[0], "severe": p[1], "dead": p[2]}
        finally:
            con.close()
        return planted, out

    def op(self, i: int) -> OpResult:
        b, spark, tr = self.b, self.b.spark, self.b.tracer
        from covid19i2b2_spark.pipelines.covid import CovidPipeline

        out = os.path.join(b.work, "export", f"op{i}")
        t0 = time.perf_counter()
        with tr.span("sources.read_i2b2", op=i):
            obs, pts, vis = (spark.read.parquet(self.paths[t]) for t in I2B2_TABLES)
        with tr.span("pipelines.covid.CovidPipeline", op=i):
            pipe = CovidPipeline(self.cfg, obs, pts, vis)
        with tr.span("pipelines.covid.export", op=i):
            pipe.export(out)
        t1 = time.perf_counter()
        with tr.span("bench.check_cohort", op=i):
            c = pipe.cohort().agg(F.count("*").alias("n"), F.sum("severe").alias("s"),
                                  F.count("death_date").alias("d")).first()
            persisted, _ = storage(spark)
        t2 = time.perf_counter()
        with tr.span("caching.release", op=i):
            spark.catalog.clearCache()
        t3 = time.perf_counter()
        res = OpResult(seconds=(t1 - t0) + (t3 - t2), out_dir=out, persisted_bytes=persisted,
                       blocks_left=storage(spark)[1])
        got = {"cohort": c["n"], "severe": int(c["s"] or 0), "dead": c["d"]}
        for k, v in got.items():
            if v != self.expected[k]:
                res.problems.append(f"op{i}: cohort {k}={v}, expected {self.expected[k]}")
        return res

    def check(self, i: int, res: OpResult) -> None:
        import csv

        from covid19i2b2_spark.pipelines.covid import CovidPipeline

        ob = self.cfg.obfuscation
        for art in ARTIFACTS:
            files = data_files(os.path.join(res.out_dir, art), ".csv")
            if len(files) != 1:
                res.problems.append(f"op{i}: {art} was written as {len(files)} CSV files, not one")
                continue
            with open(files[0], encoding="utf-8", newline="") as fh:
                header, *rows = list(csv.reader(fh))
            res.problems += [f"op{i}: {p}" for p in compare_artifact(
                art, header, rows, self.oracle_rows[art], CovidPipeline.KEY_COLS[art],
                CovidPipeline.COUNT_COLS[art], ob.blur, ob.small_count_mask, ob.mask_sentinel)]
            digest = hashlib.sha1("\n".join(sorted(",".join(r) for r in rows)).encode()).hexdigest()
            if self.digests.setdefault(art, digest) != digest:
                res.problems.append(f"op{i}: {art} digest changed between runs of one input")
        res.files = sum(len(data_files(os.path.join(res.out_dir, a), ".csv")) for a in ARTIFACTS)
        res.out_bytes = sum(os.path.getsize(f) for a in ARTIFACTS
                            for f in data_files(os.path.join(res.out_dir, a), ".csv"))


class CurateCorpus:
    """Batch curation: curate() -> write_training_shards -> release.  The
    first part of a ``curate_ingest_query`` operation."""

    n_docs = 1500

    def __init__(self, bench):
        self.b = bench
        self.digest: str | None = None

    def generate(self, root: str) -> None:
        b = self.b
        corpus, evals, self.n_roots = gen.curation_corpus(b.spark, self.n_docs, b.seed)
        self.paths = write_tables({"corpus": corpus, "evals": evals}, root)
        self.input_rows = self.n_docs
        self.input_bytes = dir_bytes(self.paths["corpus"])
        self.input_digest = parquet_digest(self.paths)

    def prepare(self) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            docs = f"read_parquet('{self.paths['corpus']}/*.parquet')"
            self.texts = dict(con.execute(f"SELECT doc_id, text FROM {docs}").fetchall())
            self.all_ids = set(self.texts)
            # contamination is planted as a whole eval passage inside the text
            self.contaminated = {r[0] for r in con.execute(
                f"SELECT DISTINCT d.doc_id FROM {docs} d JOIN "
                f"read_parquet('{self.paths['evals']}/*.parquet') e "
                f"ON contains(d.text, e.text)").fetchall()}
        finally:
            con.close()
        self.dups = {d for d in self.all_ids if d >= self.n_roots}
        from covid19i2b2_spark.pipelines.curation import CurationConfig

        self.cfg = CurationConfig(n_shards=8, seed=self.b.seed)

    def op(self, i: int, res: OpResult) -> None:
        b, spark, tr = self.b, self.b.spark, self.b.tracer
        from covid19i2b2_spark.pipelines.curation import curate
        from covid19i2b2_spark.sources.sinks import write_training_shards

        out = os.path.join(b.work, "shards", f"op{i}")
        t0 = time.perf_counter()
        with tr.span("sources.read_corpus", op=i):
            corpus = spark.read.parquet(self.paths["corpus"]).select("doc_id", "text")
            evals = spark.read.parquet(self.paths["evals"]).select("text")
        handles: list = []
        with tr.span("pipelines.curation.curate", op=i):
            result = curate(corpus, evals, config=self.cfg, cache_handles=handles)
        with tr.span("sources.sinks.write_training_shards", op=i):
            write_training_shards(result, out)
        t1 = time.perf_counter()
        with tr.span("bench.storage_probe", op=i):
            persisted, _ = storage(spark)
        t2 = time.perf_counter()
        with tr.span("caching.release", op=i):
            for h in handles:
                h.unpersist()
        t3 = time.perf_counter()
        res.seconds += (t1 - t0) + (t3 - t2)
        res.out_dir, res.persisted_bytes, res.blocks_left = out, persisted, storage(spark)[1]

    def check(self, i: int, res: OpResult) -> None:
        files = data_files(res.out_dir, ".json")
        kept: list[int] = []
        rows: list[str] = []
        boilerplate = set(gen.BOILERPLATE)
        bad_text = 0
        for f in files:
            shard = os.path.basename(os.path.dirname(f))
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    row = json.loads(line)
                    kept.append(row["doc_id"])
                    rows.append(shard + "\t" + line.rstrip("\n"))
                    # a kept text is its input's lines minus the boilerplate
                    out_lines = set(row["text"].split("\n"))
                    src = set(self.texts.get(row["doc_id"], "").split("\n"))
                    bad_text += not out_lines <= src - boilerplate
        if bad_text:
            res.problems.append(f"op{i}: {bad_text} kept texts are not their input minus boilerplate")
        removed = self.all_ids - set(kept)
        planted = self.dups | self.contaminated
        res.dup_recall = len(removed & self.dups) / len(self.dups)
        res.dup_precision = len(removed & planted) / len(removed) if removed else 0.0
        if len(kept) != len(set(kept)):
            res.problems.append(f"op{i}: a document was written to more than one shard row")
        if res.dup_recall < 0.97 or res.dup_precision < 0.99:
            res.problems.append(f"op{i}: dup recall {res.dup_recall:.4f} precision {res.dup_precision:.4f}")
        leaked = self.contaminated & set(kept)
        if leaked:
            res.problems.append(f"op{i}: {len(leaked)} contaminated documents kept")
        digest = hashlib.sha1("\n".join(sorted(rows)).encode()).hexdigest()
        if (self.digest or digest) != digest:
            res.problems.append(f"op{i}: shard digest changed between runs of one input")
        self.digest = self.digest or digest
        res.files = len(files)
        res.out_bytes += sum(os.path.getsize(f) for f in files)




def canon_rows(df) -> list[tuple[str, ...]]:
    """A query result as its sorted column names, then its sorted rows of
    canonical cells: equal for equal results from Spark and DuckDB."""
    cols = sorted(df.columns)
    return [tuple(cols)] + sorted(tuple(canon_cell(v) for v in r)
                                  for r in df[cols].itertuples(index=False))


def canon_cell(v) -> str:
    """``canon`` for query results: floats to six decimals, arrays
    element-wise."""
    if isinstance(v, (list, tuple)) or getattr(v, "ndim", 0) > 0:
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, numbers.Number) and not isinstance(v, numbers.Integral):
        f = float(v)
        if f == f and abs(f) != float("inf"):
            v = round(f, 6)
    return canon(v)


QUERY_FAMILIES = ("llm3", "covid", "llm", "aggregates", "joins", "phase2", "reshape")
# The registry queries IngestQuery runs in each operation: one per family,
# and for llm3 both the BM25 and the kNN operator, which no other workload
# calls.
QUERIES = ("q_bm25_rank", "q_knn_join", "q_dedup_exact", "q_covid_cohort", "q_covid_patient_summary",
           "q_conditional_agg", "q_semi_anti_join", "q_sessionize", "q_window_tumbling")


class IngestQuery:
    """The second part of a ``curate_ingest_query`` operation: a segment
    of crawl batches through the streaming ingest loop over an on-disk
    DedupIndex (one file per trigger), the index compacted in the quiet
    window after it, then a fixed mix of registry queries in a seeded
    order, each collected to the client as the driver's correctness
    window does (``toPandas``).  Every query's rows are checked against
    its DuckDB oracle, and the segment's planted duplicates against what
    the loop kept, outside the timed part."""

    n_initial = 200  # documents in the index before the first segment
    n_new, n_dups = 150, 50  # fresh documents and copies per crawl batch
    per_segment = 1  # batches (files, so epochs) per segment
    scale = 0.01  # of the query tables

    def __init__(self, bench):
        self.b = bench

    def generate(self, root: str) -> None:
        self.root = root
        self.sf = os.path.join(root, "tables")
        self.paths = gen.query_tables(self.sf, self.scale, self.b.seed)
        self.landing = os.path.join(root, "landing")
        os.makedirs(self.landing)
        seg = self.stage(0)
        self.table_rows = sum(parquet_rows(p) for p in self.paths.values())
        self.table_bytes = sum(os.path.getsize(p) for p in self.paths.values())
        self.input_rows = self.table_rows + self.per_segment * (self.n_new + self.n_dups)
        self.input_bytes = self.table_bytes + dir_bytes(seg)
        self.input_digest = parquet_digest({**self.paths, "segment0": seg})

    def stage(self, seg: int) -> str:
        """Write segment ``seg``'s batches, one parquet file each, into its
        own directory; returns it."""
        first = seg * self.per_segment
        batches = gen.ingest_batches(self.b.spark, self.b.seed, first + self.per_segment,
                                     self.n_new, self.n_dups, self.n_initial)
        staged = os.path.join(self.root, "staged")
        (batches.filter(F.col("batch") >= first).repartition("batch").write
         .mode("overwrite").partitionBy("batch").parquet(staged))
        d = os.path.join(self.root, "segments", f"seg{seg}")
        os.makedirs(d)
        for k in range(first, first + self.per_segment):
            os.replace(data_files(os.path.join(staged, f"batch={k}"), ".parquet")[0],
                       os.path.join(d, f"batch{k}.parquet"))
        shutil.rmtree(staged)
        return d

    def prepare(self) -> None:
        import duckdb

        from covid19i2b2_spark.operators.dedup_incremental import DedupIndex
        from covid19i2b2_spark.registry import REGISTRY, all_queries

        b = self.b
        self.fns = all_queries()
        self.order = list(QUERIES)
        random.Random(b.seed).shuffle(self.order)
        con = duckdb.connect()
        try:
            for table, path in self.paths.items():
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            self.oracle = {q: canon_rows(con.execute(REGISTRY[q].oracle).df()) for q in QUERIES}
        finally:
            con.close()
        self.index = DedupIndex(os.path.join(b.work, "index"), seed=b.seed)
        self.index.build(gen.initial_corpus(b.spark, b.seed, self.n_initial), "doc_id", "text")
        b.spark.catalog.clearCache()

    def family(self, name: str) -> str:
        mod = self.fns[name].__module__.rsplit(".", 1)[-1]
        return mod if mod in QUERY_FAMILIES else "other"

    def op(self, i: int, res: OpResult) -> None:
        """Land segment ``i``, restart the ingest query on its checkpoint
        (it picks up only the new files), compact, then run the queries."""
        import pyarrow.parquet as pq

        from covid19i2b2_spark.streaming.curation import run_streaming_ingest

        b, spark, tr = self.b, self.b.spark, self.b.tracer
        seg = os.path.join(self.root, "segments", f"seg{i}")
        if not os.path.isdir(seg):
            self.stage(i)
        for f in sorted(glob.glob(os.path.join(seg, "*.parquet"))):
            t = pq.read_table(f, columns=["doc_id", "is_dup"]).to_pydict()
            res.segment_rows |= set(t["doc_id"])
            res.segment_dups |= {d for d, dup in zip(t["doc_id"], t["is_dup"]) if dup}
            os.replace(f, os.path.join(self.landing, os.path.basename(f)))
        index_before = dir_bytes(self.index.path)
        out = os.path.join(b.work, "ingest", "corpus")
        t0 = time.perf_counter()
        with tr.span("streaming.curation.run_streaming_ingest", op=i):
            stream = (spark.readStream.schema("doc_id long, text string")
                      .option("maxFilesPerTrigger", 1).parquet(self.landing))
            q = run_streaming_ingest(stream, self.index, out, stats_every=None,
                                     checkpoint_dir=os.path.join(b.work, "ingest", "ckpt"))
            q.awaitTermination()
        t1 = time.perf_counter()
        with tr.span("operators.dedup_incremental.compact", op=i):
            self.index.compact(spark)
        t2 = time.perf_counter()
        for name in self.order:
            with tr.span(f"queries.{self.family(name)}", op=i):
                res.query_rows[name] = self.fns[name](spark, self.sf).toPandas()
        t3 = time.perf_counter()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        res.seconds += t3 - t0
        res.epoch_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
        res.epoch_dirs = [os.path.join(out, f"epoch={p['batchId']}") for p in progress]
        res.compact_s = t2 - t1
        res.trigger_overhead_s = (t1 - t0) - sum(res.epoch_s)
        res.compact_bytes = dir_bytes(self.index.fp_path) + dir_bytes(self.index.bands_path)
        res.corpus_bytes = sum(dir_bytes(d) for d in res.epoch_dirs)
        res.out_bytes += res.corpus_bytes + dir_bytes(self.index.path) - index_before

    def check(self, i: int, res: OpResult) -> None:
        import pyarrow.parquet as pq

        kept = set()
        for d in res.epoch_dirs:
            for f in data_files(d, ".parquet"):
                kept |= set(pq.read_table(f, columns=["doc_id"]).column(0).to_pylist())
        dups = res.segment_dups
        removed = res.segment_rows - kept
        recall = len(removed & dups) / len(dups)
        precision = len(removed & dups) / len(removed) if removed else 0.0
        # 32-hash MinHash LSH misses a few percent of ~0.85-Jaccard copies
        if recall < 0.9 or precision < 0.99:
            res.problems.append(f"op{i}: ingest dup recall {recall:.4f} precision {precision:.4f}")
        if len(res.epoch_s) != self.per_segment:
            res.problems.append(f"op{i}: {len(res.epoch_s)} epochs for {self.per_segment} files")
        res.index_files = len(data_files(self.index.path, ".parquet"))
        res.index_bytes = dir_bytes(self.index.path)
        if self.b.tracer.sc is not None:  # two index-sized jobs, for the traced run only
            res.duplication_ratio = self.index.stats(self.b.spark)["duplication_ratio"]
        for name, df in res.query_rows.items():
            got = canon_rows(df)
            if got != self.oracle[name]:
                res.problems.append(f"op{i}: {name} differs from its DuckDB oracle "
                                    f"({len(got)} vs {len(self.oracle[name])} rows)")


class CurateIngestQuery:
    """The north star's chain, one operation: curate a corpus into
    training shards (``CurateCorpus``), then ingest a crawl segment
    against the dedup index and serve the query mix (``IngestQuery``).
    Per-layer metrics split its time between the two."""

    name = "curate_ingest_query"

    def __init__(self, bench):
        self.curate, self.ingest = CurateCorpus(bench), IngestQuery(bench)

    def output_digest(self) -> str | None:
        """Digest of the first operation's shards: equal across runs of one seed."""
        return self.curate.digest

    def generate(self, root: str) -> None:
        self.curate.generate(os.path.join(root, "curate"))
        self.ingest.generate(os.path.join(root, "ingest"))
        parts = (self.curate, self.ingest)
        self.input_rows = sum(p.input_rows for p in parts)
        self.input_bytes = sum(p.input_bytes for p in parts)
        self.input_digest = "+".join(p.input_digest for p in parts)

    def prepare(self) -> None:
        self.curate.prepare()
        self.ingest.prepare()

    def op(self, i: int) -> OpResult:
        res = OpResult(seconds=0.0, out_dir="")
        self.curate.op(i, res)
        self.ingest.op(i, res)
        return res

    def check(self, i: int, res: OpResult) -> None:
        self.curate.check(i, res)
        self.ingest.check(i, res)


WORKLOADS = {w.name: w for w in (Phase11Extract, CurateIngestQuery)}
