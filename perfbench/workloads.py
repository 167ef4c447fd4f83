"""The benchmark's workloads: each generates its inputs from the seed, builds
the pipeline spec of every load, reads after each commit, and checks what
was committed. Sizes and planted properties live in ``PARAMS``."""

from __future__ import annotations

import os

from . import checks, gen

PARAMS = {
    "hourly_partitioned": {
        "files": 4, "rows": 200000, "hot_share": 0.5, "tail_days": 2,
        "map_side_partition_split": 2, "min_value": 5.0,
    },
    "merge_upsert": {
        "keys": 100000, "trickle_keys": 30, "bulk_share": 0.02, "cycle": 4,
        "delete_share": 0.1, "new_key_share": 0.1,
    },
}


class Workload:
    """One closed-loop client. ``cycle`` loads form a whole unit of the mix:
    the timed loop only stops at a cycle boundary, so every run measures the
    same mix, at least once."""

    name = ""
    cycle = 1
    #: untimed loads after set-up: load times fall steeply over the first
    #: five or so while the JVM compiles its hot paths, so six put the timed
    #: loop on the plateau, where a slow machine cannot also mean "earlier
    #: on the warm-up curve"
    warmup = 6

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.p = PARAMS[self.name]

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work, "out", f"load_{i:05d}")

    def prepare(self, spark) -> None:
        """Program work the timed loop depends on (counted in set-up time)."""

    def merge_state(self) -> str | None:
        return None


class HourlyPartitioned(Workload):
    name = "hourly_partitioned"

    def generate(self) -> None:
        p = self.p
        self.inputs = gen.hourly_events(
            os.path.join(self.work, "in"), self.seed, p["files"], p["rows"],
            p["hot_share"], p["tail_days"],
        )

    def load(self, i: int) -> tuple[dict, dict]:
        doc = {
            "in": {"type": "parquet", "path": os.path.join(self.work, "in")},
            "filters": [{"type": "filter", "predicate": f"value >= {self.p['min_value']}"}],
            "exec": {"partitioning": {
                "type": "timestamp", "unit": "hour", "column": "ts",
                "map_side_partition_split": self.p["map_side_partition_split"],
            }},
            "out": {"type": "parquet", "path": self.out_dir(i), "partition_by_bucket": True},
        }
        return doc, self.inputs

    def read(self, spark, i: int):
        from pyspark.sql import functions as F

        row = spark.read.parquet(self.out_dir(i)).agg(
            F.count(F.lit(1)), F.sum("__bucket")
        ).collect()[0]
        return (row[0], row[1])

    def check(self, con, loads: list[dict]) -> int:
        expected = checks.hourly_expected(con, self.inputs["paths"], self.p["min_value"])
        return checks.hourly_outputs(con, loads, expected)


class MergeUpsert(Workload):
    name = "merge_upsert"

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        p = self.p
        self.cycle = p["cycle"]
        self.state = gen.KeyedState(
            seed, p["keys"], p["trickle_keys"], p["bulk_share"], p["cycle"],
            p["delete_share"], p["new_key_share"],
        )

    def merge_state(self) -> str:
        return os.path.join(self.work, "state")

    def generate(self) -> None:
        self.inputs = self.state.seed_batch(os.path.join(self.work, "in", "seed"))

    def _doc(self, path: str) -> dict:
        return {
            "in": {"type": "parquet", "path": path},
            "out": {
                "type": "parquet", "path": self.merge_state(), "mode": "merge",
                "merge_key": ["k"], "merge_order": ["seq"], "delete_column": "deleted",
            },
        }

    def prepare(self, spark) -> None:
        from embulk_executor_mapreduce_spark.plans.compiler import run_pipeline
        from embulk_executor_mapreduce_spark.spec import load_spec

        report = run_pipeline(spark, load_spec(self._doc(os.path.dirname(self.inputs["paths"][0]))))
        if not report.succeeded:
            raise RuntimeError(f"seed commit failed: {report.error}")

    def load(self, i: int) -> tuple[dict, dict]:
        """Load ``i`` (0-based) commits increment ``i + 1``; the increment is
        generated here, before the caller starts its clock."""
        path = os.path.join(self.work, "in", f"inc_{i + 1:05d}")
        facts = self.state.increment(path, i + 1)
        return self._doc(path), facts

    def read_state(self, spark):
        from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state
        from pyspark.sql import functions as F

        row = (
            read_merge_state(spark, self.merge_state(), delete_col="deleted")
            .filter(F.col("v") >= gen.HI)
            .agg(F.count(F.lit(1)), F.sum("v"))
            .collect()[0]
        )
        return (row[0], row[1] or 0)

    def read_changes(self, spark):
        from embulk_executor_mapreduce_spark.sinks.changes import table_changes

        v = checks.merge_version(self.merge_state())
        rows = table_changes(
            spark, self.merge_state(), ["k"], v - 1, v, delete_col="deleted"
        ).select("k", "v", "seq", "_change_type").collect()
        return [tuple(r) for r in rows]

    def read(self, spark, i: int):
        return self.read_state(spark), self.read_changes(spark)

    def check(self, con, loads: list[dict]) -> int:
        return checks.merge_outputs(con, self.merge_state(), loads, self.state.live)


WORKLOADS = {w.name: w for w in (HourlyPartitioned, MergeUpsert)}
