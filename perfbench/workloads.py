"""The benchmark's workloads: what a pass runs and how its outputs are
checked. A workload never sees the seed; it receives the generated
inputs only.

- ``etl_roundtrip``: the reference's own command chain on a staged
  parcel CSV: load (truncate), upsert a change batch, extract, publish.
- ``routes``: the similarity, graph and order-statistics queries whose
  inputs fit the default driver-route budgets, so each runs its numpy
  twin on the driver after an Arrow collect.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import shutil
from collections import Counter

import gen

#: fraction of sf0.1 rows generated for the query workloads
QUERY_FRACTION = 0.1
#: staged parcels and change-batch rows for the ETL round trip
ETL_BASE_ROWS = 1_000
ETL_CHANGE_ROWS = 250


class Op:
    """One timed operation of a pass: ``fn(tracer)`` returns the output
    the checks read. ``group`` names the sum the operation's time joins
    in the run summary."""

    def __init__(self, name: str, fn, group: str | None = None):
        self.name = name
        self.fn = fn
        self.group = group or name


class Check:
    """One output check: ``fn`` returns an error string, or None."""

    def __init__(self, name: str, fn):
        self.name = name
        self.fn = fn


class EtlRoundtrip:
    name = "etl_roundtrip"

    def __init__(self, scratch: str, seed: int):
        self.scratch = scratch
        self.inputs = gen.write_etl_inputs(
            os.path.join(scratch, "inputs"), seed, ETL_BASE_ROWS, ETL_CHANGE_ROWS
        )
        self.input_bytes = os.path.getsize(self.inputs.base_csv) + os.path.getsize(
            self.inputs.change_csv
        )
        self._pass = 0

    def setup(self, spark) -> None:
        from databridge_etl_tools_spark.schema import TableSchema

        self.spark = spark
        with open(self.inputs.schema_json) as f:
            self.schema = TableSchema.from_json(f.read())

    def build_layouts(self) -> None:
        """The round trip reads staged CSV, never the query layouts."""

    def begin_pass(self) -> None:
        """Each pass writes a fresh store and output directories, so
        every pass does the same work and retains the same versions."""
        from databridge_etl_tools_spark.sources.table_store import TableStore

        shutil.rmtree(os.path.join(self.scratch, f"pass{self._pass}"), ignore_errors=True)
        self._pass += 1
        self.pass_dir = os.path.join(self.scratch, f"pass{self._pass}")
        self.store = TableStore(self.spark, os.path.join(self.pass_dir, "store"))

    def ops(self) -> list[Op]:
        from databridge_etl_tools_spark.plans import pipelines as P

        spark, inp, schema, store, out = self.spark, self.inputs, self.schema, self.store, self.pass_dir
        return [
            Op("load", lambda _t: P.load_pipeline(spark, inp.base_csv, schema, store, "parcels", mode="truncate")),
            Op("upsert", lambda _t: P.upsert_pipeline(spark, inp.change_csv, schema, store, "parcels")),
            Op("extract", lambda _t: P.extract_pipeline(spark, store, "parcels", os.path.join(out, "extract"))),
            Op("publish", lambda _t: P.publish_opendata(spark, store, "parcels", os.path.join(out, "publish"))),
        ]

    def stored_bytes(self) -> int:
        """TableStore bytes on disk after the pass, retained versions included."""
        import layers

        return layers.dir_bytes(os.path.join(self.pass_dir, "store"))

    def table_store_usage(self) -> tuple[int, int]:
        """(bytes on disk, version directories) of the pass's TableStore."""
        root = os.path.join(self.pass_dir, "store")
        versions = sum(
            v.startswith("v-") for t in os.listdir(root) for v in os.listdir(os.path.join(root, t))
        )
        return self.stored_bytes(), versions

    def checks(self, results: dict) -> list[Check]:
        from pyspark.sql import functions as F

        from databridge_etl_tools_spark.plans import pipelines as P
        from databridge_etl_tools_spark.qa import QAReport

        spark, store, inp = self.spark, self.store, self.inputs

        def final_count():
            want = inp.base_rows + inp.inserts
            got = store.read("parcels").count()
            return None if got == want else f"final rows {got} != base+inserts {want}"

        def roundtrip():
            out = os.path.join(self.pass_dir, "check_extract")
            P.extract_pipeline(spark, store, "parcels", out, localize_timestamps=False)
            P.load_pipeline(spark, out, self.schema, store, "parcels_rt", mode="truncate")
            qa = QAReport()
            qa.record_diff_empty(store.read("parcels"), store.read("parcels_rt"))
            bad = qa.failures
            return "; ".join(f.describe() for f in bad) if bad else None

        def coordinates():
            pub = spark.read.options(header=True).csv(os.path.join(self.pass_dir, "publish"))
            got = pub.where(F.col("lng").isNotNull() & F.col("lat").isNotNull()).count()
            return None if got == inp.points else f"published coordinates {got} != points {inp.points}"

        return [
            Check("final_count", final_count),
            Check("extract_reload_recorddiff", roundtrip),
            Check("published_coordinates", coordinates),
        ]


class Routes:
    name = "routes"
    # ann_pq_adc is left out: it has no driver twin, so it takes the
    # distributed path in every lane and measures no route
    ANN = ("ann_cosine_topk", "ann_ivf_label", "ann_pca_prefilter", "retrieval_eval_knn")
    GRAPH = ("graph_pagerank_suppliers", "graph_triangles_copurchase")
    OTHER = ("median_value_by_type", "bpe_learn_merges_words")

    def __init__(self, scratch: str, seed: int):
        self.scratch = scratch
        self.tables = os.path.join(scratch, "tables")
        gen.write_query_tables(self.tables, seed, QUERY_FRACTION)
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.tables, f)) for f in os.listdir(self.tables)
        )

    def setup(self, spark) -> None:
        from databridge_etl_tools_spark import registry

        self.spark = spark
        registry.load_all()
        self.queries = registry.QUERIES

    def build_layouts(self) -> None:
        from databridge_etl_tools_spark import layout

        layout.build_all(self.spark, self.tables, os.path.join(self.scratch, "layout"))

    def stored_bytes(self) -> int:
        """Bytes of the optimized layouts the queries read."""
        import layers

        wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        return layers.dir_bytes(os.path.join(self.scratch, "layout")) + layers.dir_bytes(wh)

    def table_store_usage(self) -> tuple[int, int]:
        return 0, 0

    def begin_pass(self) -> None:
        """Query passes keep no state between them."""

    def ops(self) -> list[Op]:
        return [
            Op(n, self._runner(n), group)
            for names, group in ((self.ANN, "ann"), (self.GRAPH, "graph"), (self.OTHER, None))
            for n in names
        ]

    def _runner(self, name: str):
        """Construct the DataFrame, then execute it: the two halves are
        separate spans because eager jobs run during construction."""

        def run(tracer):
            with tracer.span("registry.construct"):
                df = self.queries[name](self.spark, self.tables)
            with tracer.span("registry.execute"):
                return df.columns, df.collect()

        return run

    def checks(self, results: dict) -> list[Check]:
        import duckdb

        from databridge_etl_tools_spark import registry

        def compare(name: str):
            def check():
                if name not in results:
                    return "no result (the query raised)"
                cols, rows = results[name]
                with duckdb.connect() as con:
                    for t in registry.TABLES:
                        path = os.path.join(self.tables, f"{t}.parquet")
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
                    rel = con.sql(registry.ORACLES[name])
                    return diff_rows(cols, rows, list(rel.columns), rel.fetchall())

            return check

        return [Check(f"oracle:{n}", compare(n)) for n in self.ANN + self.GRAPH + self.OTHER]


WORKLOADS = {w.name: w for w in (EtlRoundtrip, Routes)}


# ---------------------------------------------------------------------
# result comparison (order-insensitive, as the repository's oracle gate)
# ---------------------------------------------------------------------


def canon(v) -> str:
    if v is None:
        return "\0NULL"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v}"
    if isinstance(v, dt.datetime):
        return f"t:{v.replace(tzinfo=None).isoformat(sep=' ')}"
    if isinstance(v, dt.date):
        return f"D:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return f"{type(v).__name__[0]}:{v}"


def multiset(cols: list[str], rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon(r[i]) for i in order) for r in rows)


def diff_rows(scols, srows, dcols, drows) -> str | None:
    if sorted(scols) != sorted(dcols):
        return f"columns {sorted(scols)} != oracle {sorted(dcols)}"
    if len(srows) != len(drows):
        return f"rows {len(srows)} != oracle {len(drows)}"
    a, b = multiset(scols, srows), multiset(dcols, drows)
    if a != b:
        return f"values differ: spark-only {list((a - b).items())[:2]} oracle-only {list((b - a).items())[:2]}"
    return None
