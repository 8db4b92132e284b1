"""The benchmark's workloads: inputs, one job, output check, layer numbers.

Every workload talks to the program only through the public functions
of ``sources``, ``operators``, ``plans`` and ``streaming``, in the
order the match CLIs call them.  Inputs are generated from the seed
and written to parquet during set-up; a job receives only those
tables.

``job`` runs one unit of user-visible work (a CLI match run, or one
micro-batch of the closed streaming loop).  With a tracer it also
opens spans at the public-call boundaries; the person workloads then
materialise the prepared person tables once at their own boundary so
the ``persons`` layer has a self time.  They are written to the noop
sink, not persisted: a persist would change the plan under test and
hide the per-level re-execution of the person UDFs in the cascade,
which ``persons.udf_rows_per_row`` is there to expose.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from name_match_latest_spark import oracle
from name_match_latest_spark.operators.algos import match_fuzzy
from name_match_latest_spark.operators.cascade import CascadeConfig, run_cascade
from name_match_latest_spark.operators.persons import apply_column_mapping, prepare_persons
from name_match_latest_spark.plans.caching import unpersist_tracked
from name_match_latest_spark.plans.web_pipeline import cluster_pages
from name_match_latest_spark.sources.sinks import MATCH_OUTPUT_COLS
from name_match_latest_spark.sources.synth import generate_persons_distributed
from name_match_latest_spark.sources.web import generate_webpages
from name_match_latest_spark.streaming.incremental_cluster import IncrementalClusterer

from statusstore import StatusStore, node_metric_total
from spans import Tracer

#: plan nodes whose metrics the layer numbers read
NODE_NAMES = (
    "ArrowEvalPython",
    "MapInPandas",
    "Join",
    "Exchange",
    "InsertIntoHadoopFsRelationCommand",
)

CASCADE_LEVELS = [1, 2, 3, 10, 11]  # the `cli ... cascade` default


@dataclass
class Check:
    pair_f1: float
    ok: bool
    detail: str


def _is_person_udf(n) -> bool:
    return n.name == "ArrowEvalPython" and (
        "normalize_text_udf(" in n.desc or "dmeta_" in n.desc
    )


def _is_jw_udf(n) -> bool:
    return n.name == "ArrowEvalPython" and "jaro_winkler_udf(" in n.desc


def _is_extract(n) -> bool:
    return n.name == "MapInPandas" and "parse(" in n.desc


def _is_pair_join(n) -> bool:
    # pair_join prefixes both sides' columns with t1_/t2_
    return "Join" in n.name and ", Inner" in n.desc and "t1_" in n.desc


def _is_write(n) -> bool:
    return "InsertIntoHadoopFsRelationCommand" in n.name


def pair_f1(got: set, want: set) -> float:
    if not got and not want:
        return 1.0
    hit = len(got & want)
    if hit == 0:
        return 0.0
    precision, recall = hit / len(got), hit / len(want)
    return 2 * precision * recall / (precision + recall)


def _persons(rows) -> list[oracle.Person]:
    return [
        oracle.Person(
            **{k: r[k] for k in oracle.Person.__dataclass_fields__}
        )
        for r in rows
    ]


def spark_layers(store: StatusStore, execs: list, wall: float, cores: int) -> dict:
    """Layer numbers every workload shares, for the SQL executions of
    one traced job that took ``wall`` seconds."""
    stages = store.stage_totals([s for e in execs for s in e.stage_ids])
    person_udf_rows = node_metric_total(execs, _is_person_udf, "number of output rows")
    jw_rows = node_metric_total(execs, _is_jw_udf, "number of output rows")
    candidates = node_metric_total(execs, _is_pair_join, "number of output rows")
    return {
        "sources.web.extract.rows": node_metric_total(execs, _is_extract, "number of output rows"),
        "sources.web.extract.py_run_s": node_metric_total(execs, _is_extract, "time to run Python workers"),
        "sources.web.extract.py_init_s": node_metric_total(execs, _is_extract, "time to initialize Python workers"),
        "sources.web.extract.bytes_to_py": node_metric_total(execs, _is_extract, "data sent to Python workers"),
        "persons.udf_rows": person_udf_rows,
        "persons.py_run_s": node_metric_total(execs, _is_person_udf, "time to run Python workers"),
        "persons.py_init_s": node_metric_total(execs, _is_person_udf, "time to initialize Python workers"),
        "blocking.candidates": candidates,
        "blocking.task_s_max_over_median": stages.heaviest_stage_skew,
        "scoring.jw_rows": jw_rows,
        "scoring.prefilter_pass_ratio": jw_rows / candidates if candidates else 0.0,
        "scoring.py_run_s": node_metric_total(execs, _is_jw_udf, "time to run Python workers"),
        "scoring.py_init_s": node_metric_total(execs, _is_jw_udf, "time to initialize Python workers"),
        "spark.sql_executions": len(execs),
        "spark.jobs": sum(len(e.job_ids) for e in execs),
        "spark.tasks": stages.tasks,
        "spark.task_cpu_s": stages.task_cpu_s,
        "spark.gc_s": stages.gc_s,
        "spark.shuffle_write_bytes": stages.shuffle_write_bytes,
        "spark.spill_bytes": stages.spill_bytes,
        "spark.slot_busy_ratio": stages.task_run_s / (wall * cores) if wall else 0.0,
        "spark.task_failures": stages.task_failures,
    }


class Workload:
    name = ""

    def __init__(self, spark: SparkSession, work: str, seed: int, cores: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        #: failed output checks found while collecting layer numbers
        self.failures: list[str] = []

    #: rows of input one job processes (rows_per_s counts these)
    input_rows = 0
    #: warm jobs a run measures at least, whatever ``--seconds`` is
    min_warm = 1

    def make_inputs(self, path: str) -> None:
        raise NotImplementedError

    def use_inputs(self, path: str) -> None:
        self.inputs = path

    def job(self, i: int, tracer: Tracer | None) -> int:
        """Run job ``i``; returns its output row count."""
        raise NotImplementedError

    def release(self) -> None:
        """Free what the job left cached (outside the timed region)."""
        unpersist_tracked()
        self.spark.catalog.clearCache()

    def has_next(self, i: int) -> bool:
        return True

    def check(self, tracer: Tracer | None) -> Check:
        raise NotImplementedError

    def layers(self, store: StatusStore, tracer: Tracer, job_span) -> dict:
        raise NotImplementedError

    def run_layers(self, store: StatusStore, tracer: Tracer, warm_s: list[float]) -> dict:
        """Layer numbers of the whole run (not per job); ``warm_s`` are
        the warm job times in the order they ran."""
        return {}

    def _span(self, tracer: Tracer | None, name: str):
        return tracer.span(name) if tracer else contextlib.nullcontext()


class _PersonWorkload(Workload):
    rows_per_side = 0

    @property
    def input_rows(self) -> int:
        return self.rows_per_side

    def make_inputs(self, path: str) -> None:
        for side in "ab":
            generate_persons_distributed(
                self.spark, self.rows_per_side, side=side, seed=self.seed
            ).write.mode("overwrite").parquet(os.path.join(path, side))
            self.spark.read.parquet(os.path.join(path, side)).count()

    def _load(self, side: str) -> DataFrame:
        # what `cli` does with a parquet table argument
        df = self.spark.read.parquet(os.path.join(self.inputs, side))
        return prepare_persons(apply_column_mapping(df, {}))

    def _prepared(self, tracer: Tracer | None) -> tuple[DataFrame, DataFrame]:
        a, b = self._load("a"), self._load("b")
        if tracer:
            with tracer.span("persons"):
                for df in (a, b):
                    df.write.format("noop").mode("overwrite").save()
        return a, b

    def out_path(self, i: int) -> str:
        return os.path.join(self.work, "out", str(i))

    def _slice_year(self) -> int:
        # birthdates span 1950-01-01 .. 1999-04-14; take a full year
        return 1951 + self.seed % 48

    def _slice_persons(self, side: str) -> list[oracle.Person]:
        df = self.spark.read.parquet(os.path.join(self.inputs, side))
        return _persons(df.filter(F.year("birthdate") == self._slice_year()).collect())

    def _slice_output(self, cols: list[str]) -> list:
        out = self.spark.read.parquet(self.out_path(self.last_job))
        return out.filter(F.year("t1_birthdate") == self._slice_year()).select(*cols).collect()

    def _person_layers(self, store, tracer, job_span) -> dict:
        execs = store.executions(tracer.tags(job_span))
        d = spark_layers(store, execs, job_span.duration_s, self.cores)
        rows_in = 2 * self.rows_per_side
        persons = next(s for s in tracer.subtree(job_span) if s.name == "persons")
        # the noop boundary pass runs the person UDFs once more than
        # the untraced job does: count only the job's own evaluations
        boundary = store.executions(tracer.tags(persons))
        for key, metric in (
            ("persons.udf_rows", "number of output rows"),
            ("persons.py_run_s", "time to run Python workers"),
            ("persons.py_init_s", "time to initialize Python workers"),
        ):
            d[key] -= node_metric_total(boundary, _is_person_udf, metric)
        d["persons.rows_in"] = rows_in
        d["persons.udf_rows_per_row"] = d["persons.udf_rows"] / rows_in
        d["persons.self_s"] = tracer.self_s(persons)
        d["blocking.candidates_per_row"] = d["blocking.candidates"] / rows_in
        return d


class PersonFuzzy(_PersonWorkload):
    """`cli A B 3 OUT --format parquet`: Algo 3 over two synthetic
    person tables.  Not a workload of its own (see PersonCascade)."""

    def job(self, i: int, tracer: Tracer | None) -> int:
        a, b = self._prepared(tracer)
        with self._span(tracer, "algos.match_fuzzy"):
            match_fuzzy(a, b).orderBy("t1_id", "t2_id").write.mode(
                "overwrite"
            ).parquet(self.out_path(i))
        self.last_job = i
        self.last_count = self.spark.read.parquet(self.out_path(i)).count()
        return self.last_count

    def check(self, tracer: Tracer | None) -> Check:
        want = {
            (a, b): (conf, label)
            for a, b, conf, label in oracle.oracle_fuzzy(
                self._slice_persons("a"), self._slice_persons("b")
            )
        }
        got = {
            (r.t1_id, r.t2_id): (r.confidence, r.case_label)
            for r in self._slice_output(["t1_id", "t2_id", "confidence", "case_label"])
        }
        f1 = pair_f1(set(got), set(want))
        bad = [
            k for k in set(got) & set(want)
            if abs(got[k][0] - want[k][0]) > 1e-9 or got[k][1] != want[k][1]
        ]
        ok = bool(want) and f1 == 1.0 and not bad
        return Check(
            f1, ok,
            f"birth year {self._slice_year()}: {len(want)} oracle pairs, "
            f"{len(got)} engine pairs, {len(bad)} confidence/label mismatches",
        )

    def layers(self, store, tracer, job_span) -> dict:
        d = self._person_layers(store, tracer, job_span)
        match = next(s for s in tracer.subtree(job_span) if s.name == "algos.match_fuzzy")
        d["algos.match_fuzzy.self_s"] = tracer.self_s(match)
        d["scoring.matches"] = self.last_count
        return d


class PersonCascade(_PersonWorkload):
    """`cli A B cascade OUT --format parquet`: the L1-L11 workflow at
    the CLI's default levels."""

    name = "person_cascade"
    rows_per_side = 4_000

    def job(self, i: int, tracer: Tracer | None) -> int:
        a, b = self._prepared(tracer)
        with self._span(tracer, "cascade.run_cascade"):
            results = run_cascade(a, b, CascadeConfig(levels=CASCADE_LEVELS))
        # `cli ... cascade` unions the raw level frames, which fails
        # once exact and fuzzy levels (different columns) are both run;
        # the union here keeps the columns the CLI's match sink writes
        out = None
        for lr in results:
            lvl = lr.matches.select(*MATCH_OUTPUT_COLS).withColumn("level", F.lit(lr.level))
            out = lvl if out is None else out.unionByName(lvl)
        out.orderBy("t1_id", "t2_id").write.mode("overwrite").parquet(self.out_path(i))
        self.last_job = i
        self.level_matches = {lr.level: lr.match_count for lr in results}
        return self.spark.read.parquet(self.out_path(i)).count()

    def check(self, tracer: Tracer | None) -> Check:
        by_level = oracle.oracle_cascade(
            self._slice_persons("a"), self._slice_persons("b"), CASCADE_LEVELS
        )
        want = {(lvl, a, b) for lvl, pairs in by_level.items() for a, b in pairs}
        got = {
            (r.level, r.t1_id, r.t2_id)
            for r in self._slice_output(["level", "t1_id", "t2_id"])
        }
        f1 = pair_f1(got, want)
        return Check(
            f1, bool(want) and f1 == 1.0,
            f"birth year {self._slice_year()}: {len(want)} oracle (level, pair) "
            f"decisions, {len(got)} engine decisions",
        )

    def layers(self, store, tracer, job_span) -> dict:
        d = self._person_layers(store, tracer, job_span)
        casc = next(s for s in tracer.subtree(job_span) if s.name == "cascade.run_cascade")
        level_execs = store.executions({tracer.tag(casc)})
        d["cascade.sql_executions"] = len(level_execs)
        # run_cascade materialises each level with one count
        if len(level_execs) == len(CASCADE_LEVELS):
            for lvl, e in zip(CASCADE_LEVELS, sorted(level_execs, key=lambda e: e.id)):
                d[f"cascade.level_s.L{lvl}"] = e.duration_s
        for lvl in CASCADE_LEVELS:
            d[f"cascade.level_matches.L{lvl}"] = self.level_matches[lvl]
        d["scoring.matches"] = sum(self.level_matches.values())
        return d

    def run_layers(self, store, tracer, warm_s) -> dict:
        """One traced Algo 3 run over the same tables, checked against
        ``oracle_fuzzy`` on the same slice: the reference point for the
        persons layer (``match_fuzzy`` persists its prepared sides, so
        its UDF rows per input row stay near 1) and the only run of
        the 3-tier fallback blocking."""
        fuzzy = PersonFuzzy(self.spark, self.work, self.seed, self.cores)
        fuzzy.rows_per_side = self.rows_per_side
        fuzzy.use_inputs(self.inputs)
        with tracer.span("job") as span:
            fuzzy.job("fuzzy", tracer)
        fuzzy.release()
        d = fuzzy.layers(store, tracer, span)
        check = fuzzy.check(None)
        if not check.ok:
            self.failures.append(f"Algo 3 reference: {check.detail}")
        return {
            "algos.match_fuzzy.job_s": span.duration_s,
            "algos.match_fuzzy.self_s": d["algos.match_fuzzy.self_s"],
            "algos.match_fuzzy.udf_rows_per_row": d["persons.udf_rows_per_row"],
            "algos.match_fuzzy.candidates": d["blocking.candidates"],
            "algos.match_fuzzy.jw_rows": d["scoring.jw_rows"],
            "algos.match_fuzzy.matches": d["scoring.matches"],
            "algos.match_fuzzy.pair_f1": check.pair_f1,
        }


class WebStream(Workload):
    """A closed loop of ``IncrementalClusterer.process_batch`` calls:
    the next micro-batch is submitted when the previous one commits,
    as under ``foreachBatch``.  Near-dup gate off (the default)."""

    name = "web_stream"
    pages_per_batch = 1000
    max_batches = 6
    # warm batches still speed up over the first few (JIT); a fixed
    # minimum keeps the median over the same batch indices in fast and
    # slow runs alike
    min_warm = 3

    @property
    def input_rows(self) -> int:
        return self.pages_per_batch

    def make_inputs(self, path: str) -> None:
        n = self.pages_per_batch * self.max_batches
        idx = F.regexp_extract("url", r"/article/(\d+)$", 1).cast("int")
        generate_webpages(self.spark, n, seed=self.seed).withColumn(
            "batch", (idx / self.pages_per_batch).cast("int")
        ).write.mode("overwrite").partitionBy("batch").parquet(path)
        self.spark.read.parquet(path).count()

    def use_inputs(self, path: str) -> None:
        super().use_inputs(path)
        self.state = os.path.join(self.work, "state")
        self.clusterer = IncrementalClusterer(self.spark, self.state)
        self.label_files: list[int] = []
        self.fed = 0

    def _batch(self, i: int) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.inputs, f"batch={i}"))

    def has_next(self, i: int) -> bool:
        return i < self.max_batches

    def job(self, i: int, tracer: Tracer | None) -> int:
        with self._span(tracer, "incremental_cluster.process_batch"):
            self.clusterer.process_batch(self._batch(i), batch_id=i)
        self.fed = i + 1
        return self.pages_per_batch

    def release(self) -> None:
        super().release()
        self.label_files.append(self._label_files())

    def _label_files(self) -> int:
        """Data files of the label log's current snapshot (read from
        the table's on-disk manifest)."""
        labels = os.path.join(self.state, "labels")
        with open(os.path.join(labels, "HEAD")) as f:
            head = f.read().strip()
        with open(os.path.join(labels, "snapshots", f"{head}.json")) as f:
            return len(json.load(f)["file_paths"])

    def _audit(self) -> dict[int, dict]:
        d = os.path.join(self.state, "audit")
        out = {}
        for name in os.listdir(d):
            if name.startswith("group-") and name.endswith(".json"):
                with open(os.path.join(d, name)) as f:
                    rec = json.load(f)
                out[int(rec["group"])] = rec
        return out

    def check(self, tracer: Tracer | None) -> Check:
        """Final incremental clusters against batch re-clustering of
        every page fed (as scripts/bench_stream_scale.py checks)."""
        pages = self.spark.read.parquet(self.inputs).filter(F.col("batch") < self.fed).drop("batch")
        with self._span(tracer, "plans.web_pipeline.cluster_pages"):
            want = dict(cluster_pages(pages).select("id", "cluster_id").collect())
        got = dict(self.clusterer.cluster_members().select("id", "cluster_id").collect())
        f1 = _partition_f1(got, want)
        ok = set(got) == set(want) and f1 == 1.0
        return Check(
            f1, ok,
            f"{self.fed} batches, {len(want)} mentions, "
            f"{len(set(want.values()))} batch clusters vs {len(set(got.values()))} incremental",
        )

    def layers(self, store, tracer, job_span) -> dict:
        execs = store.executions(tracer.tags(job_span))
        d = spark_layers(store, execs, job_span.duration_s, self.cores)
        batch_id = int(self.fed - 1)
        rec = self._audit()[batch_id]
        writes = [e for e in execs if any(_is_write(n) for n in e.nodes)]
        d.update(
            {
                "persons.rows_in": rec["n_mentions"],
                "persons.udf_rows_per_row": (
                    d["persons.udf_rows"] / rec["n_mentions"] if rec["n_mentions"] else 0.0
                ),
                "blocking.candidates_per_row": (
                    d["blocking.candidates"] / rec["n_mentions"] if rec["n_mentions"] else 0.0
                ),
                "scoring.matches": rec["n_new_edges"],
                "incremental_cluster.mentions_per_batch": rec["n_mentions"],
                "incremental_cluster.edges_per_batch": rec["n_new_edges"],
                "incremental_cluster.label_changes_per_batch": rec["n_label_changes"],
                "incremental_cluster.sql_executions_per_batch": len(execs),
                "sources.tables.append_s": sum(e.duration_s for e in writes),
                "sources.tables.files_written": node_metric_total(
                    writes, _is_write, "number of written files"
                ),
            }
        )
        return d

    def run_layers(self, store, tracer, warm_s) -> dict:
        half = len(warm_s) // 2
        d = {
            "incremental_cluster.late_over_early": (
                statistics.mean(warm_s[-half:]) / statistics.mean(warm_s[:half]) if half else 0.0
            ),
            "incremental_cluster.compactions": sum(
                1 for a, b in zip(self.label_files, self.label_files[1:]) if b < a
            ),
            "sources.tables.label_log_files_max": max(self.label_files, default=0),
            "checkpoint.commits": len(self._audit()),
        }
        spans = tracer.find("plans.web_pipeline.cluster_pages")
        if spans:
            execs = store.executions(tracer.tags(spans[0]))
            d["web_pipeline.cluster_pages_s"] = spans[0].duration_s
            d["web_pipeline.sql_executions"] = len(execs)
            d["web_pipeline.shuffle_write_bytes"] = node_metric_total(
                execs, lambda n: n.name == "Exchange", "shuffle bytes written"
            )
        return d


def _partition_f1(got: dict, want: dict) -> float:
    """Pairwise F1 of two clusterings (node -> cluster id): pairs of
    nodes put in one cluster, counted through cluster intersections."""
    from collections import Counter

    def pairs(counts) -> int:
        return sum(c * (c - 1) // 2 for c in counts)

    common = set(got) & set(want)
    both = pairs(Counter((got[n], want[n]) for n in common).values())
    g, w = pairs(Counter(got.values()).values()), pairs(Counter(want.values()).values())
    if g == 0 and w == 0:
        return 1.0 if set(got) == set(want) else 0.0
    if both == 0:
        return 0.0
    precision, recall = both / g, both / w
    return 2 * precision * recall / (precision + recall)


WORKLOADS = {w.name: w for w in (PersonCascade, WebStream)}


def median_by_key(dicts: list[dict]) -> dict:
    keys = {k for d in dicts for k in d}
    return {k: statistics.median(d.get(k, 0.0) for d in dicts) for k in keys}
