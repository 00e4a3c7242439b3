"""The workloads. Each builds its ops from the seeded inputs, warms its own
path during set-up, and yields cycles of ops for the closed loop.

``etl_jobs``       job specs shaped like the reference's, through
                   ``api.JobRegistry.run_sync`` (errors/writers/readers/
                   runner heavy, almost no operators work)
``stream_ingest``  a continuous-aggregate TREND rollup re-run after each
                   landed event increment (streaming, upsert writer,
                   maintenance)
"""

from __future__ import annotations

import copy
import itertools
import json
import os
import shutil

from perfbench import checks, gen
from perfbench.core import Op

DERBY_URL = "jdbc:derby:memory:perfbench;create=true"
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


class Workload:
    name = ""
    #: what one item is, for the items_per_s metric
    item = ""
    #: workload-specific names of the end-to-end metrics (detail line)
    aliases: dict = {}

    def __init__(self, spark, inputs: str, run_dir: str, seed: int):
        self.spark = spark
        self.inputs = inputs
        self.tables = os.path.join(inputs, "tables")
        self.run_dir = run_dir
        self.seed = seed
        with open(os.path.join(inputs, "manifest.json")) as f:
            self.manifest = json.load(f)
        self._n = itertools.count()

    def out(self, *parts: str) -> str:
        return os.path.join(self.run_dir, "out", *parts)

    def prepare(self) -> None:
        """In-session input loading that belongs to generation (outside
        set-up time)."""

    def warm_ops(self) -> list[Op]:
        """One untimed op of each kind (run inside set-up)."""
        raise NotImplementedError

    def cycles(self):
        """Endless iterator of op cycles for the measured loop."""
        raise NotImplementedError

    def finish(self) -> list[str]:
        """Run-end correctness checks; returns mismatch descriptions."""
        return []

    def sizes(self) -> dict:
        return {}


def _registry(spark):
    # no AdmissionControl: its load-average probe would make deferrals
    # depend on the box
    from etl_load_spark.api import JobRegistry
    return JobRegistry(spark)


def _submit(registry, spec: dict) -> dict:
    code, status = registry.run_sync(spec)
    if code != 200 or status.get("status") != "COMPLETED":
        raise RuntimeError(f"job {spec.get('jobId')} -> {code} "
                           f"{status.get('status')}: {status.get('error')}")
    return status


# ---------------------------------------------------------------------------
# etl_jobs
# ---------------------------------------------------------------------------

def _m(src, dest, dest_type, rule=None, nullable=True):
    m = {"sourceFieldName": src, "destinationFieldName": dest,
         "sourceFieldType": "VARCHAR2", "destFieldType": dest_type,
         "isDestNullable": nullable}
    if rule:
        m["transformationRule"] = rule
    return m


_LINEITEM_MAPPINGS = [
    _m("l_orderkey", "order_key", "LONG", nullable=False),
    _m("l_partkey", "part_key", "LONG"),
    _m("l_linenumber", "line_number", "INTEGER"),
    _m("l_quantity", "quantity", "DOUBLE"),
    _m("l_extendedprice", "extended_price", "decimal(12,2)"),
    _m("l_discount", "discount", "decimal(4,2)"),
    _m("l_returnflag", "return_flag", "STRING", rule="LOWERCASE"),
    _m("l_linestatus", "line_status", "STRING", rule="TRIM"),
    _m("l_shipdate", "ship_date", "DATE"),
]
_LINEITEM_EXPECT = [
    {"check": "not_null", "column": "order_key"},
    {"check": "range", "column": "quantity", "min": 1, "max": 50},
    {"check": "accepted_values", "column": "return_flag",
     "values": ["a", "n"]},
    {"check": "row_count_min", "value": 1},
]


class EtlJobs(Workload):
    """Six job shapes per cycle, 3k-120k source rows each: lineitem CSV
    (malformed cells) into parquet, partitioned parquet and CSV; parquet
    orders into CSV; parquet customer into a Derby table; the Derby part
    table into parquet."""

    name = "etl_jobs"
    item = "source rows"
    aliases = {"etl.rows_per_s": "items_per_s", "etl.job_s.p50": "op_s.p50",
               "etl.job_s.tail": "op_s.tail"}
    SHAPES = ["li_small_parquet", "li_large_partitioned", "li_large_csv",
              "orders_csv", "customer_jdbc", "part_jdbc_parquet"]

    def __init__(self, *a):
        super().__init__(*a)
        self.registry = _registry(self.spark)
        self.expected = self._expected_counts()

    def prepare(self) -> None:
        # the Derby table the JDBC-source job reads, loaded from the
        # generated part table (outside set-up: it is input generation)
        from etl_load_spark.sources.writers import write_jdbc
        part = self.spark.read.parquet(f"{self.tables}/part.parquet")
        write_jdbc(part, {"url": DERBY_URL, "table": "PART_SRC",
                          "driver": DERBY_DRIVER, "mode": "overwrite",
                          "batch_size": 2000})

    def _expected_counts(self) -> dict:
        """(read, failed) per shape, computed from the generated inputs
        with pyarrow — independent of the engine under test."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        m = self.manifest
        orders = pq.read_table(f"{self.tables}/orders.parquet",
                               columns=["o_totalprice"])
        cust = pq.read_table(f"{self.tables}/customer.parquet",
                             columns=["c_acctbal"])
        part = pq.read_table(f"{self.tables}/part.parquet",
                             columns=["p_size"])
        n = lambda mask: int(pc.sum(mask).as_py() or 0)  # noqa: E731
        return {
            "li_small_parquet": (m["lineitem_small"]["read"],
                                 m["lineitem_small"]["failed"]),
            "li_large_partitioned": (m["lineitem_large"]["read"],
                                     m["lineitem_large"]["failed"]),
            "li_large_csv": (m["lineitem_large"]["read"],
                             m["lineitem_large"]["failed"]),
            "orders_csv": (n(pc.greater(orders["o_totalprice"], 5000.0)), 0),
            "customer_jdbc": (n(pc.greater_equal(cust["c_acctbal"], 0.0)), 0),
            "part_jdbc_parquet": (n(pc.less_equal(part["p_size"], 40)), 0),
        }

    def sizes(self) -> dict:
        s = self.manifest["sizes"]
        return {"li_small_parquet": s["lineitem_small"],
                "li_large_partitioned": s["lineitem"],
                "li_large_csv": s["lineitem"], "orders_csv": s["orders"],
                "customer_jdbc": s["customer"],
                "part_jdbc_parquet": s["part"]}

    def spec(self, shape: str, job_id: str) -> dict:
        err = {"strategy": "ROUTE_TO_FILE", "maxErrorsAllowed": 0,
               "errorFilePath": self.out("errors", job_id)}
        steps = ["VALIDATE_SOURCE", "TRUNCATE_DESTINATION", "LOAD",
                 "VALIDATE_LOAD", "NOTIFY_SUCCESS"]
        sink = self.out("sink", shape)
        base = {"jobId": job_id, "errorHandling": err, "steps": steps}
        if shape.startswith("li_"):
            csv = "lineitem_small.csv" if "small" in shape else \
                "lineitem_large.csv"
            dest = {"li_small_parquet": {"type": "PARQUET",
                                         "details": {"path": sink}},
                    "li_large_partitioned": {
                        "type": "PARQUET",
                        "details": {"path": sink,
                                    "partition_by": ["return_flag"]}},
                    "li_large_csv": {"type": "FILE_CSV",
                                     "details": {"path": sink,
                                                 "header": True}}}[shape]
            return dict(base, source={"type": "FILE_CSV", "details": {
                "path": os.path.join(self.inputs, csv), "header": True}},
                mappings=_LINEITEM_MAPPINGS, filter="l_returnflag <> 'R'",
                destination=dest, expectations=_LINEITEM_EXPECT)
        if shape == "orders_csv":
            return dict(base, source={"type": "PARQUET", "details": {
                "path": f"{self.tables}/orders.parquet"}},
                mappings=[
                    _m("o_orderkey", "order_id", "LONG", nullable=False),
                    _m("o_custkey", "customer_id", "LONG"),
                    _m("o_orderstatus", "status", "STRING",
                       rule="LOWERCASE"),
                    _m("o_totalprice", "total", "decimal(12,2)"),
                    _m("o_orderdate", "order_date", "DATE"),
                    _m("o_orderpriority", "priority", "STRING",
                       rule="NORMALIZE_WS")],
                filter="o_totalprice > 5000",
                destination={"type": "FILE_CSV",
                             "details": {"path": sink, "header": True}},
                expectations=[{"check": "unique", "column": "order_id"},
                              {"check": "not_null", "column": "order_date"}])
        if shape == "customer_jdbc":
            return dict(base, source={"type": "PARQUET", "details": {
                "path": f"{self.tables}/customer.parquet"}},
                mappings=[
                    _m("c_custkey", "cust_id", "LONG", nullable=False),
                    _m("c_name", "name", "STRING", rule="UPPERCASE"),
                    _m("c_nationkey", "nation", "INTEGER"),
                    _m("c_acctbal", "balance", "decimal(12,2)"),
                    _m("c_mktsegment", "segment", "STRING",
                       rule="TITLECASE")],
                filter="c_acctbal >= 0",
                destination={"type": "JDBC", "details": {
                    "url": DERBY_URL, "table": "CUSTOMER_OUT",
                    "driver": DERBY_DRIVER, "batch_size": 2000}},
                expectations=[{"check": "range", "column": "balance",
                               "min": 0},
                              {"check": "not_null", "column": "segment"}])
        if shape == "part_jdbc_parquet":
            return dict(base, source={"type": "JDBC", "details": {
                "url": DERBY_URL, "table": "PART_SRC",
                "driver": DERBY_DRIVER, "fetch_size": 2000}},
                mappings=[
                    _m("p_partkey", "part_id", "LONG", nullable=False),
                    _m("p_name", "name", "STRING", rule="TITLECASE"),
                    _m("p_brand", "brand", "STRING"),
                    _m("p_size", "size", "INTEGER"),
                    _m("p_retailprice", "price", "decimal(8,2)")],
                filter="p_size <= 40",
                destination={"type": "PARQUET", "details": {"path": sink}},
                expectations=[{"check": "range", "column": "size",
                               "min": 1, "max": 40},
                              {"check": "unique", "column": "part_id"}])
        raise KeyError(shape)

    def op(self, shape: str) -> Op:
        job_id = f"{shape}-{next(self._n)}"
        spec = self.spec(shape, job_id)
        read, failed = self.expected[shape]
        box = {}

        def fn():
            box["st"] = _submit(self.registry, copy.deepcopy(spec))
            st = box["st"]
            return st["recordsWritten"] + st["recordsFailed"]

        def check():
            return checks.job_counts(box["st"], read, failed)

        return Op(shape, fn, check)

    def warm_ops(self) -> list[Op]:
        # every shape once on its real inputs: warming on small copies left
        # the first measured cycle ~20 % slower than the rest
        return [self.op(s) for s in self.SHAPES]

    def cycles(self):
        for order in gen.job_cycles(self.seed, self.SHAPES):
            yield [self.op(s) for s in order]


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------

class StreamIngest(Workload):
    """A continuous TREND rollup, re-run through ``run_sync`` after each
    event increment lands; a cycle is one increment."""

    name = "stream_ingest"
    item = "events"
    aliases = {"stream.events_per_s": "items_per_s",
               "stream.increment_s.p50": "op_s.p50",
               "stream.increment_s.tail": "op_s.tail"}
    BUCKET = "1 day"

    def __init__(self, *a):
        super().__init__(*a)
        self.registry = _registry(self.spark)
        self.src = self.out("stream_src")
        self.sink = self.out("rollup")
        os.makedirs(self.src, exist_ok=True)
        self.slices = list(self.manifest["event_slices"])
        self.landed: list[str] = []

    def sizes(self) -> dict:
        return {"events_per_increment": gen.EVENT_SLICE_ROWS,
                "increments_landed": len(self.landed)}

    def spec(self) -> dict:
        return {
            "jobId": "continuous_trend_rollup",
            "source": {"type": "PARQUET", "details": {"path": self.src}},
            "query": ("SELECT event_id, user_id, CAST(ts AS TIMESTAMP_LTZ) "
                      "AS ts, value FROM src"),
            "transformation": {"type": "TREND", "parameters": {
                "keyColumn": "user_id", "tsColumn": "ts",
                "valueColumn": "value", "bucket": self.BUCKET,
                "watermark": "30 minutes"}},
            "destination": {"type": "PARQUET", "details": {
                "path": self.sink, "partition_by": ["bucket_ts"],
                "compact_target_mb": 64}},
            "streaming": {"checkpoint": self.out("rollup_chk"),
                          "output_mode": "update"},
            "steps": ["VALIDATE_SOURCE", "LOAD", "COMPACT_DESTINATION",
                      "VALIDATE_LOAD"],
            "expectations": [{"check": "not_null", "column": "bucket_ts"},
                             {"check": "not_null", "column": "n_samples"}],
        }

    def _land(self, name: str) -> None:
        # copy under a hidden name, then rename: the file appears whole
        src = os.path.join(self.inputs, "events", name)
        tmp = os.path.join(self.src, f".{name}.tmp")
        shutil.copyfile(src, tmp)
        os.rename(tmp, os.path.join(self.src, name))
        self.landed.append(name)

    def op(self) -> Op:
        if not self.slices:
            raise RuntimeError("stream_ingest ran out of event slices")
        name, rows = self.slices.pop(0)
        box = {}

        def fn():
            box["st"] = _submit(self.registry, self.spec())
            return box["st"]["recordsRead"]

        def check():
            # each re-run processes only the increment that just landed
            got = box["st"]["recordsRead"]
            return None if got == rows else \
                f"increment {name}: read {got} rows, landed {rows}"

        return Op("increment", fn, check, pre=lambda: self._land(name))

    def warm_ops(self) -> list[Op]:
        # the first increment creates the materialization, the second takes
        # the upsert's merge-with-existing path every later one takes
        return [self.op(), self.op()]

    def cycles(self):
        while True:
            yield [self.op()]

    def finish(self) -> list[str]:
        """The materialization must equal the batch TREND rollup over every
        landed event (DuckDB twin of the operator, over the landed files)."""
        import duckdb
        from etl_load_spark.operators.timeseries import trend_sql
        files = [os.path.join(self.src, n) for n in self.landed]
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                    f"{files!r})")
        want = checks.duckdb_digest(con, trend_sql("events",
                                                   bucket=self.BUCKET))
        got = checks.spark_digest(
            self.spark.read.parquet(self.sink)
            .select("user_id", "bucket_ts", "n_samples", "slope_per_sec"))
        err = checks.same_digest(got, want, "stream materialization")
        return [err] if err else []


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

WORKLOADS = {w.name: w for w in (EtlJobs, StreamIngest)}
