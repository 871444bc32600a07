"""The two workloads: input generation, one measured pass, and the
correctness gate.

Inputs come from ``sources.generator`` plus reshaping done here, are
written as parquet before any timing starts, and the engine only ever
reads those files. The correctness gate is computed independently of
Spark, in DuckDB, straight from the input parquet.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import duckdb

from etl_warehouse_agnostic_spark.engine import CdcEngine
from etl_warehouse_agnostic_spark.lake.backends import make_warehouse
from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
from etl_warehouse_agnostic_spark.lake.table import LakeTable
from etl_warehouse_agnostic_spark.schemas import (
    KEY_COLS,
    TRANSCRIPTS_SCHEMA_V1,
    TRANSCRIPTS_SCHEMA_V2,
)
from etl_warehouse_agnostic_spark.silver import (
    AggregateModel,
    DeltaAggregateModel,
    SilverModel,
)
from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource
from etl_warehouse_agnostic_spark.sources.generator import (
    generate_base_transcripts,
    generate_changes,
)

# Generator parameters, with the reasons for each workload, live in
# design.json next to this file.
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "design.json")) as _f:
    PARAMS = {k: v["params"] for k, v in json.load(_f)["workloads"].items()}

# Order-independent row hash of the payload that LWW decides.
_ROW_HASH = ("count(*) AS n, sum(hash(conv_id::VARCHAR, turn_idx::BIGINT, "
             "role::VARCHAR, text::VARCHAR, tool::VARCHAR)) AS h")


def _files_literal(files: list[str]) -> str:
    return "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"


def _parquet_files(d: str) -> list[str]:
    return sorted(
        os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
    )


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(f) for f in _parquet_files(d))


def _table_files(t: LakeTable) -> list[str]:
    snap = t.snapshot()
    return [os.path.join(t.path, p) for ps in snap["files"].values() for p in ps]


def _lww_reference(con, events: str, hi_lsn: int, base: str | None) -> tuple:
    union = ""
    if base is not None:
        union = (f" UNION ALL SELECT conv_id, turn_idx, 'I' AS op, role, text, "
                 f"NULL::VARCHAR AS tool, 0::BIGINT AS lsn, ts FROM read_parquet('{base}/*.parquet')")
    return con.execute(
        f"WITH ev AS (SELECT conv_id, turn_idx, op, role, text, tool, lsn, ts "
        f"FROM read_parquet('{events}/*.parquet') WHERE lsn <= {int(hi_lsn)}{union}), "
        "w AS (SELECT * FROM ev QUALIFY row_number() OVER "
        "(PARTITION BY conv_id, turn_idx ORDER BY lsn DESC, ts DESC) = 1) "
        f"SELECT {_ROW_HASH} FROM w WHERE op <> 'D'"
    ).fetchone()


def _check_con():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


class DuckReplay:
    """Full replay of one skewed stream into a fresh DuckDB warehouse
    per pass, through ``CdcEngine.run_warehouse`` with a writer-schema
    registry (epoch 2 adds ``tool`` via ``project_arrow``)."""

    name = "duckdb_replay"

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.p = PARAMS[self.name]
        self.work = work
        self.cores = cores
        self.events_dir = os.path.join(work, "inputs", "events")
        p = self.p
        generate_changes(
            spark, p["events"], n_convs=p["convs"], turns_per_conv=p["turns"], seed=seed,
            insert_pct=p["insert_pct"], update_pct=p["update_pct"],
            hot_conv_frac=p["hot_conv_frac"], hot_event_frac=p["hot_event_frac"],
            evolution_lsn=int(p["events"] * p["evolution_at"]),
        ).write.mode("overwrite").parquet(self.events_dir)
        self.event_bytes = _dir_bytes(self.events_dir)
        con = _check_con()
        self.expected = _lww_reference(con, self.events_dir, p["events"], None)
        con.close()
        self.pass_idx = 0
        self.reg = {1: TRANSCRIPTS_SCHEMA_V1.names, 2: TRANSCRIPTS_SCHEMA_V2.names}
        self.wh = None

    def _dirs(self, i: int) -> tuple[str, str]:
        d = os.path.join(self.work, "duck", f"p{i:03d}")
        return os.path.join(d, "wh.duckdb"), os.path.join(d, "ckpt")

    def open(self, spark) -> None:
        """Engine, warehouse and source for the next pass; ``recover``
        is left to the caller so set-up can time it."""
        db, ckpt = self._dirs(self.pass_idx)
        os.makedirs(os.path.dirname(db), exist_ok=True)
        self.wh = make_warehouse(spark, {"type": "duckdb", "path": db},
                                 TRANSCRIPTS_SCHEMA_V1, KEY_COLS)
        self.engine = CdcEngine(spark, None, ManifestStore(ckpt),
                                source_partitions=self.cores, schema_registry=self.reg)
        self.source = ChangeStreamSource(spark, path=self.events_dir)

    def recover(self) -> None:
        self.engine.recover_warehouse(self.wh)

    def run_pass(self, spark, clock) -> dict:
        """One full replay into a fresh warehouse; returns the pass
        record (wall, events, epoch latencies, bytes, gate)."""
        if self.wh is None:
            self.open(spark)
        epoch_size = -(-self.p["events"] // self.p["epochs"])
        t0 = time.perf_counter()
        clock.reset(t0)
        results = self.engine.run_warehouse(self.wh, self.source, epoch_size=epoch_size)
        wall = time.perf_counter() - t0
        db, _ = self._dirs(self.pass_idx)
        self.wh.close()
        self.wh = None
        con = duckdb.connect(db, read_only=True)
        got = con.execute(f"SELECT {_ROW_HASH} FROM target").fetchone()
        con.close()
        written = os.path.getsize(db) + (os.path.getsize(db + ".wal") if os.path.exists(db + ".wal") else 0)
        if self.pass_idx > 0:  # keep only the newest warehouse on disk
            shutil.rmtree(os.path.dirname(self._dirs(self.pass_idx - 1)[0]), ignore_errors=True)
        self.pass_idx += 1
        return {
            "wall_s": wall, "events": self.p["events"], "epochs": len(results),
            "epoch_s": clock.latencies(t0 + wall), "table_bytes": written,
            "event_bytes": self.event_bytes,
            "correct": tuple(got) == tuple(self.expected),
            "check": {"expected": list(self.expected), "got": list(got)},
        }

    def close(self) -> None:
        if self.wh is not None:
            self.wh.close()
            self.wh = None


def _silver_schemas():
    from pyspark.sql import types as T

    silver = T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role_u", T.StringType(), True),
        T.StructField("text_len", T.IntegerType(), True),
        T.StructField("_ingest_epoch", T.IntegerType(), True),
    ])
    gold = T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turns", T.LongType(), True),
        T.StructField("chars", T.LongType(), True),
    ])
    day = T.StructType([
        T.StructField("day", T.StringType(), False),
        T.StructField("rows", T.LongType(), True),
        T.StructField("chars", T.LongType(), True),
        T.StructField("_nn_chars", T.LongType(), True),
    ])
    return silver, gold, day


def _models(bronze: LakeTable, silver_t, gold_t, day_t) -> list:
    """``run_ingest.py --with-models``: silver transform -> per-conv
    gold, plus a delta-arithmetic day rollup off bronze."""
    from pyspark.sql import functions as F

    def transform(upserts, epoch):
        return upserts.select(
            "conv_id", "turn_idx",
            F.upper("role").alias("role_u"),
            F.length("text").alias("text_len"),
            F.lit(epoch).cast("int").alias("_ingest_epoch"),
        )

    def gold_agg(rows):
        return rows.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("turns"),
            F.sum("text_len").cast("long").alias("chars"),
        )

    def day_groups(rows):
        return rows.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))

    silver_m = SilverModel(silver_t, transform, name="turns_silver")
    return [
        silver_m,
        AggregateModel(gold_t, None, ["conv_id"], gold_agg,
                       name="gold_from_silver", parent=silver_m),
        DeltaAggregateModel(day_t, bronze, ["day"], {"chars": F.length("text")},
                            count_col="rows", name="day_rollup_delta",
                            row_groups=day_groups),
    ]


class TrickleTicks:
    """Preloaded bronze plus the 3-model DAG, then closed-loop ticks of
    ``CdcEngine.run(source, tick_events, max_epochs=1)`` whose events
    fall on the newest conversations."""

    name = "trickle_ticks"
    MODELS = ("silver", "gold", "day")

    def __init__(self, spark, work: str, seed: int, cores: int):
        from pyspark.sql import functions as F

        self.p = p = PARAMS[self.name]
        self.work = work
        self.cores = cores
        self.base_dir = os.path.join(work, "inputs", "base")
        self.events_dir = os.path.join(work, "inputs", "events")
        generate_base_transcripts(
            spark, n_convs=p["base_convs"], turns_per_conv=p["base_turns"], seed=seed,
        ).write.mode("overwrite").parquet(self.base_dir)
        # Reshape: the generator's conv ids 0..recent-1 are moved onto
        # the newest ``recent_conv_frac`` of the base conversations.
        recent = max(1, int(p["base_convs"] * p["recent_conv_frac"]))
        n = p["tick_events"] * p["max_ticks"]
        generate_changes(
            spark, n, n_convs=recent, turns_per_conv=p["base_turns"], seed=seed + 1,
            insert_pct=p["insert_pct"], update_pct=p["update_pct"],
            hot_conv_frac=p["hot_conv_frac"], hot_event_frac=p["hot_event_frac"],
            evolution_lsn=0,
        ).withColumn(
            "conv_id",
            F.format_string("conv_%08d", F.substring("conv_id", 6, 8).cast("int")
                            + F.lit(p["base_convs"] - recent)),
        ).write.mode("overwrite").parquet(self.events_dir)
        self.event_bytes_per_event = _dir_bytes(self.events_dir) / n
        self.paths = {k: os.path.join(work, "lake", k) for k in ("bronze",) + self.MODELS}

    def preload(self, spark) -> None:
        """Untimed: bronze from the base snapshot, models bootstrapped
        from it (all stamped epoch 0)."""
        from pyspark.sql import functions as F

        b = self.p["buckets"]
        bronze = LakeTable.create(spark, self.paths["bronze"], TRANSCRIPTS_SCHEMA_V2,
                                  KEY_COLS, num_buckets=b)
        base = spark.read.parquet(self.base_dir).withColumn("tool", F.lit(None).cast("string"))
        bronze.overwrite(base.select(*TRANSCRIPTS_SCHEMA_V2.names), epoch_id=0)
        silver_s, gold_s, day_s = _silver_schemas()
        LakeTable.create(spark, self.paths["silver"], silver_s, KEY_COLS, num_buckets=b)
        LakeTable.create(spark, self.paths["gold"], gold_s, ["conv_id"], num_buckets=b)
        LakeTable.create(spark, self.paths["day"], day_s, ["day"], num_buckets=b)
        silver_m, gold_m, day_m = self._load_models(spark, bronze)
        silver_m.bootstrap(bronze, 0)
        gold_m.bootstrap(0)
        day_m.bootstrap(0)

    def _load_models(self, spark, bronze):
        return _models(bronze, *(LakeTable.load(spark, self.paths[k]) for k in self.MODELS))

    def open(self, spark) -> None:
        self.bronze = LakeTable.load(spark, self.paths["bronze"])
        self.models = self._load_models(spark, self.bronze)
        self.engine = CdcEngine(
            spark, self.bronze, ManifestStore(os.path.join(self.work, "lake", "ckpt")),
            source_partitions=self.cores, silver_models=self.models,
        )
        self.source = ChangeStreamSource(spark, path=self.events_dir)

    def recover(self) -> None:
        self.engine.recover()

    def _written_bytes(self) -> dict[str, int]:
        return {f: os.path.getsize(f) for k in ("bronze",) + self.MODELS
                for f in _parquet_files(os.path.join(self.paths[k], "data"))}

    def run_pass(self, spark, clock) -> dict:
        before = self._written_bytes()
        lo = self.engine.checkpoints.high_water_lsn()
        t0 = time.perf_counter()
        clock.reset(t0)
        results = self.engine.run(self.source, self.p["tick_events"], max_epochs=1)
        wall = time.perf_counter() - t0
        if not results:
            raise RuntimeError("event stream exhausted; raise max_ticks")
        hi = self.engine.checkpoints.high_water_lsn()
        after = self._written_bytes()
        written = sum(v for f, v in after.items() if f not in before)
        ok, check = self.check(hi)
        return {
            "wall_s": wall, "events": hi - lo, "epochs": len(results),
            "epoch_s": clock.latencies(t0 + wall), "table_bytes": written,
            "event_bytes": (hi - lo) * self.event_bytes_per_event,
            "correct": ok, "check": check,
        }

    def check(self, hi_lsn: int) -> tuple[bool, dict]:
        """Bronze equals the LWW reference over base and applied events;
        gold equals a groupBy of silver; silver and the day rollup
        equal a recompute from bronze."""
        con = _check_con()
        try:
            expected = _lww_reference(con, self.events_dir, hi_lsn, self.base_dir)
            files = {k: _files_literal(_table_files(t)) for k, t in (
                ("bronze", self.bronze), ("silver", self.models[0].table),
                ("gold", self.models[1].table), ("day", self.models[2].table))}
            con.execute(f"CREATE TEMP VIEW bronze AS SELECT * FROM read_parquet({files['bronze']}, union_by_name=true)")
            con.execute(f"CREATE TEMP VIEW silver AS SELECT * FROM read_parquet({files['silver']})")
            got = con.execute(f"SELECT {_ROW_HASH} FROM bronze").fetchone()
            pairs = {
                "bronze": (expected, got),
                "silver": (
                    con.execute("SELECT count(*), sum(hash(conv_id::VARCHAR, turn_idx::BIGINT, upper(role), length(text)::BIGINT)) FROM bronze").fetchone(),
                    con.execute("SELECT count(*), sum(hash(conv_id::VARCHAR, turn_idx::BIGINT, role_u, text_len::BIGINT)) FROM silver").fetchone()),
                "gold": (
                    con.execute("SELECT count(*), sum(hash(conv_id, n, c)) FROM (SELECT conv_id::VARCHAR AS conv_id, count(*)::BIGINT AS n, sum(text_len)::BIGINT AS c FROM silver GROUP BY 1)").fetchone(),
                    con.execute(f"SELECT count(*), sum(hash(conv_id::VARCHAR, turns::BIGINT, chars::BIGINT)) FROM read_parquet({files['gold']})").fetchone()),
                "day": (
                    con.execute("SELECT count(*), sum(hash(d, n, c)) FROM (SELECT strftime(ts, '%Y-%m-%d') AS d, count(*)::BIGINT AS n, sum(length(text))::BIGINT AS c FROM bronze GROUP BY 1)").fetchone(),
                    con.execute(f"SELECT count(*), sum(hash(day::VARCHAR, rows::BIGINT, chars::BIGINT)) FROM read_parquet({files['day']}) WHERE rows > 0").fetchone()),
            }
        finally:
            con.close()
        detail = {k: {"expected": list(map(_num, e)), "got": list(map(_num, g))}
                  for k, (e, g) in pairs.items()}
        return all(tuple(e) == tuple(g) for e, g in pairs.values()), detail

    def close(self) -> None:
        pass


def _num(v):
    return int(v) if v is not None else None


WORKLOADS = {w.name: w for w in (TrickleTicks, DuckReplay)}
