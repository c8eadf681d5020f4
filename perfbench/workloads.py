"""The benchmark's workloads: what one pass runs, and the oracle each
output is checked against.

``QueryWorkload`` runs declared queries (``plans.QUERIES``) into the
``noop`` sink.  After the timed passes, the DataFrames of the last pass
are collected (untimed) and compared with the query's DuckDB oracle
(``plans.ORACLES``) by ``tools/verify_local.py``'s own comparison.

``MigrationWorkload`` is the paper's workflow, after
``examples/migration_runbook.py``: registration build, idempotent
anti-join against already-migrated clients, dense surrogate keys above
the destination's max id, the seven-feed parquet fan-out, and a JDBC
append of the client→patient mapping into an embedded Derby database.
Its last timed pass is read back and checked against a DuckDB oracle.

Every workload times each operation of a pass into ``pass_ops``
(operation -> seconds), which the runner turns into ``pass_s``.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

import duckdb

from perfbench import datagen

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

# graph_louvain and graph_truss_decomposition are left out: together they
# are 43% of a pass, so with them a run times only two passes and, on a
# loaded host, overruns the time budget of a full comparison
ITERATIVE_GRAPH = [
    "graph_modularity",
    "graph_bfs",
    "graph_sssp",
    "graph_pagerank",
    "graph_kcore",
    "graph_label_propagation",
    "graph_components_star",
    "dedup_clusters_incremental",
]
LLM_CURATION = [
    "sim_knn_candidate_sweep",
    "dedup_minhash_band_sweep",
    "corpus_prep",
    "corpus_dedup_funnel",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_embedding_lsh",
    "dedup_semantic",
    "dedup_simhash_pairs",
    "sim_knn_graph",
    "sim_ann_lsh",
    "sim_ann_recall",
    "sim_mmr_rerank",
    "multimodal_vad_segments",
    "multimodal_audio_pairs",
    "text_bpe_train",
    "text_tfidf",
]


def report_failure(what: str, exc: Exception) -> None:
    """A failed operation: one line on stdout, the traceback on stderr."""
    print(f"FAIL {what}: {type(exc).__name__}: {exc}"[:400])
    traceback.print_exception(exc, file=sys.stderr)


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's markers."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class QueryWorkload:
    def __init__(self, names: list[str], tables: dict, sf: float):
        self.names = names
        self.tables = tables  # table -> row count as a function of sf
        self.sf = sf

    def prepare(self, data_dir: str, seed: int) -> None:
        """Generate the inputs and run every oracle (before Spark starts)."""
        from openmrs_patient_migration_script_spark.plans import ORACLES

        self.data_dir = data_dir
        for table, rows in self.tables.items():
            getattr(datagen, table)(data_dir, seed, rows(self.sf))
        self.input_bytes = dir_bytes(data_dir)[1]
        con = duckdb.connect()
        for t in self.tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self.oracles = {n: con.execute(ORACLES[n]).arrow() for n in self.names}
        con.close()
        self.order = list(self.names)
        random.Random(seed).shuffle(self.order)
        self.frames: dict = {}  # query -> its DataFrame from the latest pass
        self.outputs: dict = {}  # query -> (DataFrame, collected pandas frame)
        self.pass_ops: dict[str, float] = {}

    def warmup(self, spark, tracer) -> tuple[int, int]:
        """Untimed: one cold ``noop`` pass.  Returns (failed, attempted)."""
        return self.run_pass(spark, tracer, -1), len(self.order)

    def run_pass(self, spark, tracer, index: int) -> int:
        from openmrs_patient_migration_script_spark.plans import QUERIES

        failed = 0
        self.pass_ops = {}
        for name in self.order:
            t = time.perf_counter()
            with tracer.span("query", query=name, pass_index=index):
                try:
                    with tracer.span("plans.build"):
                        df = QUERIES[name](spark, self.data_dir)
                    if tracer.enabled:
                        with tracer.span("catalyst.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span("sink.execute"):
                        df.write.format("noop").mode("overwrite").save()
                    self.frames[name] = df
                except Exception as exc:  # noqa: BLE001 - every failure is counted
                    report_failure(name, exc)
                    self.frames.pop(name, None)
                    failed += 1
            self.pass_ops[name] = time.perf_counter() - t
        return failed

    def after_pass(self, spark, index: int) -> None:
        pass

    def verify(self, spark, plant_wrong: bool) -> list[str]:
        from tools.verify_local import compare, dtype_problems

        problems = []
        for i, name in enumerate(self.order):
            if name not in self.frames:
                continue  # already counted as a failed run
            df = self.frames[name]
            try:
                pdf = df.toPandas()
            except Exception as exc:  # noqa: BLE001
                report_failure(f"{name} (collect)", exc)
                problems.append(f"{name}: collect raised {type(exc).__name__}")
                continue
            self.outputs[name] = (df, pdf)
            if plant_wrong and i == 0:
                pdf = pdf.iloc[:-1] if len(pdf) else pdf.assign(_planted=[])
            duck = self.oracles[name]
            p = dtype_problems(df, duck) + compare(name, pdf, duck.to_pandas())
            if p:
                problems.append(f"{name}: {'; '.join(p)}"[:400])
        return problems  # one entry per failed query

    def operations_per_pass(self) -> int:
        return len(self.order)

    def output_rows(self) -> int:
        return sum(len(pdf) for _, pdf in self.outputs.values())

    def sink_stats(self, spark) -> dict:
        """The noop sink keeps nothing: output bytes are those of the
        checked results, as pandas frames."""
        out = sum(pdf.memory_usage(deep=True).sum() for _, pdf in self.outputs.values())
        return {"output_bytes": int(out), "feed_files": 0, "feed_bytes": 0, "jdbc_rows": 0}


class MigrationWorkload:
    STEPS = 7  # etl and jdbc calls per pass

    def __init__(self, rows: int):
        self.rows = rows
        self.pass_ops: dict[str, float] = {}

    def prepare(self, data_dir: str, seed: int) -> None:
        self.data_dir = data_dir
        self.paths = datagen.enrollment(data_dir, seed, self.rows)
        self.input_bytes = sum(os.path.getsize(self.paths[t]) for t in ("customer", "migrated"))
        work = os.path.dirname(data_dir)
        self.feeds_root = os.path.join(work, "feeds")
        # in-memory: an on-disk Derby database costs ~15 s to delete on
        # a discard-mounted ext4 (its files are written with syncs, so
        # they fragment), which the run's time budget cannot carry
        self.derby_url = "jdbc:derby:memory:migdb;create=true"
        con = duckdb.connect()
        con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet('{self.paths['customer']}')")
        con.execute(f"CREATE VIEW mig AS SELECT * FROM read_parquet('{self.paths['migrated']}')")
        self.offset = con.execute("SELECT max(patient_id) FROM mig").fetchone()[0]
        # the oracle mapping: offset + row_number() OVER (ORDER BY client_id)
        self.expected = con.execute(
            f"""SELECT c_custkey AS client_id,
                       {self.offset} + row_number() OVER (ORDER BY c_custkey) AS patient_id
                FROM src WHERE c_custkey NOT IN (SELECT client_id FROM mig)
                ORDER BY c_custkey"""
        ).df()
        con.close()
        self.new_rows = len(self.expected)
        # person_attribute holds county and village; both are non-null here
        self.expected_feed_rows = {
            "person": self.new_rows,
            "person_name": self.new_rows,
            "person_address": self.new_rows,
            "person_attribute": 2 * self.new_rows,
            "patient": self.new_rows,
            "patient_identifier": self.new_rows,
            "mapping": self.new_rows,
        }
        self.last_index = None

    def _table(self, index: int) -> str:
        return "MAPPING_WARMUP" if index < 0 else f"MAPPING_P{index}"

    def _feeds(self, index: int) -> str:
        return os.path.join(self.feeds_root, "warmup" if index < 0 else f"pass{index}")

    def _pass(self, spark, tracer, index) -> None:
        from openmrs_patient_migration_script_spark.operators.etl import (
            assign_surrogate_keys,
            build_mapping,
            idempotent_new_rows,
            max_id_offset,
            registration_build,
            write_multi_sink,
        )
        from openmrs_patient_migration_script_spark.sources import load_table
        from openmrs_patient_migration_script_spark.sources.jdbc import write_jdbc_append

        with self._op(tracer, "sources.load"):
            customer = load_table(spark, self.data_dir, "customer")
            nation = load_table(spark, self.data_dir, "nation")
            migrated = spark.read.parquet(self.paths["migrated"])
        with self._op(tracer, "etl.max_id_offset"):
            offset = max_id_offset(migrated, "patient_id")
        with self._op(tracer, "etl.registration_build"):
            reg = registration_build(customer, nation)
        with self._op(tracer, "etl.idempotent_new_rows"):
            fresh = idempotent_new_rows(reg, migrated, "client_id")
        with self._op(tracer, "etl.assign_surrogate_keys"):
            keyed = assign_surrogate_keys(fresh, "client_id", id_col="patient_id", offset=offset)
        with self._op(tracer, "etl.build_mapping"):
            mapping = build_mapping(fresh, keyed)
        if tracer.enabled:
            with tracer.span("catalyst.plan"):
                keyed._jdf.queryExecution().executedPlan()
                mapping._jdf.queryExecution().executedPlan()
        with self._op(tracer, "etl.write_multi_sink"):
            write_multi_sink(keyed, self._feeds(index))
        with self._op(tracer, "jdbc.write_jdbc_append"):
            write_jdbc_append(
                mapping, url=self.derby_url, table=self._table(index), driver=DERBY_DRIVER
            )

    @contextmanager
    def _op(self, tracer, name: str):
        """One timed call, under a span of the same name."""
        t = time.perf_counter()
        with tracer.span(name):
            yield
        self.pass_ops[name] = time.perf_counter() - t

    def warmup(self, spark, tracer) -> tuple[int, int]:
        failed = self.run_pass(spark, tracer, -1)
        self.after_pass(spark, -1)
        return failed, self.STEPS

    def run_pass(self, spark, tracer, index: int) -> int:
        self.pass_ops = {}
        with tracer.span("migration", pass_index=index):
            try:
                self._pass(spark, tracer, index)
            except Exception as exc:  # noqa: BLE001
                report_failure(f"migration pass {index}", exc)
                return 1
        return 0

    def _sql(self, spark, statement: str):
        conn = spark.sparkContext._jvm.java.sql.DriverManager.getConnection(self.derby_url)
        try:
            stmt = conn.createStatement()
            if statement.lstrip().upper().startswith("SELECT"):
                rs = stmt.executeQuery(statement)
                rs.next()
                return rs.getLong(1)
            stmt.execute(statement)
        finally:
            conn.close()

    def after_pass(self, spark, index: int) -> None:
        """Keep only the newest pass's sinks (untimed).  Every pass writes
        into empty sinks, so no pass pays for deleting the one before."""
        if self.last_index is not None:
            self._sql(spark, f"DROP TABLE {self._table(self.last_index)}")
            shutil.rmtree(self._feeds(self.last_index))
        self.last_index = index

    def sink_stats(self, spark) -> dict:
        """Bytes and files of the parquet feeds, plus the Derby mapping
        table's allocated pages, after the last pass."""
        files, feeds = dir_bytes(self._feeds(self.last_index))
        derby = self._sql(
            spark,
            "SELECT SUM(NUMALLOCATEDPAGES * PAGESIZE) FROM TABLE "
            f"(SYSCS_DIAG.SPACE_TABLE('APP', '{self._table(self.last_index)}')) T",
        )
        return {
            "output_bytes": feeds + int(derby or 0),
            "feed_files": files,
            "feed_bytes": feeds,
            "jdbc_rows": self._sql(spark, f"SELECT COUNT(*) FROM {self._table(self.last_index)}"),
        }

    def verify(self, spark, plant_wrong: bool) -> list[str]:
        problems = []
        got = (
            spark.read.format("jdbc")
            .options(url=self.derby_url, dbtable=self._table(self.last_index), driver=DERBY_DRIVER)
            .load()
            .toPandas()
        )
        got.columns = [c.lower() for c in got.columns]
        if plant_wrong:
            got.loc[got.index[0], "patient_id"] += 1
        got = got.sort_values("client_id").reset_index(drop=True)
        if len(got) != self.new_rows:
            problems.append(f"mapping rows {len(got)} != {self.new_rows}")
        elif not (
            got["client_id"].astype("int64").equals(self.expected["client_id"].astype("int64"))
            and got["patient_id"].astype("int64").equals(
                self.expected["patient_id"].astype("int64")
            )
        ):
            problems.append("mapping differs from offset + row_number() OVER (ORDER BY client_id)")
        if got["uuid"].nunique() != len(got):
            problems.append("mapping uuids are not unique")
        con = duckdb.connect()
        for feed, want in self.expected_feed_rows.items():
            path = os.path.join(self._feeds(self.last_index), feed, "*.parquet")
            n, uuids = con.execute(
                f"SELECT count(*), count(DISTINCT uuid) FROM read_parquet('{path}')"
            ).fetchone()
            if n != want:
                problems.append(f"feed {feed}: {n} rows, expected {want}")
            if uuids != n:
                problems.append(f"feed {feed}: {n - uuids} duplicate uuids")
        con.close()
        return ["; ".join(problems)] if problems else []  # one failed pass

    def operations_per_pass(self) -> int:
        return self.STEPS

    def output_rows(self) -> int:
        return self.new_rows


def make(name: str, scale: float | None) -> QueryWorkload | MigrationWorkload:
    """``scale`` is the scale factor of the query workloads and the
    enrollment row count of ``patient_migration``; ``None`` means the
    benchmark default."""
    if name == "iterative_graph":
        return QueryWorkload(
            ITERATIVE_GRAPH, {"customer": lambda sf: int(150_000 * sf)}, scale or 0.01
        )
    if name == "llm_curation":
        return QueryWorkload(
            LLM_CURATION,
            {
                "documents": lambda sf: max(500, int(50_000 * sf)),
                "embeddings": lambda sf: max(500, int(20_000 * sf)),
            },
            scale or 0.01,
        )
    if name == "patient_migration":
        return MigrationWorkload(int(scale or 400_000))
    raise SystemExit(f"unknown workload {name!r}")
