"""ingest_dml: the write path on a growing events table.

Table ``(event_id, ts, user_id, event_type, value)``, partitioned by
``day(ts)``, format v2, merge-on-read deletes, updates and merges, and a
manifest-merge threshold low enough that commits merge manifests several
times per run. Rows are integer arithmetic on the row id and the seed, so
DuckDB regenerates them and replays every op as the oracle.

One cycle is 6 appends (the day advances every 2), a delete over the last
3 days, an update over the last day, a merge upsert, and then, alternating
between cycles, a read of the last 3 days or a maintenance step
(``rewrite_position_delete_files``, ``rewrite_data_files``,
``expire_snapshots(retain_last=5)``). The warm-up is one cycle holding both
the read and the maintenance step.
"""

from __future__ import annotations

import random
import time

import duckdb

import duckdb_iceberg_spark as dis
from duckdb_iceberg_spark.metadata import manifest as mf
from duckdb_iceberg_spark.metadata.table_metadata import load_table_metadata
from duckdb_iceberg_spark.sources.dml import delete_from, merge_into, \
    update_iceberg

from .harness import Op

BASE_S = 1_704_067_200  # 2024-01-01 00:00:00 UTC
TYPES = ("click", "view", "buy", "cart")
NEW_ID_BASE = 1_000_000_000
SEED_MOD = 1_000_003
#: measured cost of one steady cycle on 4 cores; turns --seconds into a
#: fixed cycle count, so op k is the same op on every run of a seed
NOMINAL_CYCLE_S = 8.5

PROPS = {
    "write.delete.mode": "merge-on-read",
    "write.update.mode": "merge-on-read",
    "write.merge.mode": "merge-on-read",
    "commit.manifest.min-count-to-merge": "4",
}

#: row checksum, written identically for Spark SQL and DuckDB (``ts_s`` is
#: the epoch-second expression of each engine)
CHECKSUM = ("(event_id * 1000003 + {ts_s} * 7 + user_id * 31 + value * 131"
            " + length(event_type) * 256 + ascii(event_type)) % 1000000007")


def _iso(day: int) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(BASE_S + day * 86400))


def _window(days: tuple[int, int]) -> tuple[str, str]:
    """The [first day, end day) window as a Spark and a DuckDB predicate."""
    lo, hi = days
    return (f"ts >= TIMESTAMP '{_iso(lo)}' AND ts < TIMESTAMP '{_iso(hi)}'",
            f"ts_s >= {BASE_S + lo * 86400} AND ts_s < {BASE_S + hi * 86400}")


class IngestDml:
    def __init__(self, spark, seed: int, seconds: float,
                 rows_per_append: int = 2000):
        self.spark = spark
        # the column arithmetic takes the seed modulo a prime, so any seed,
        # negative or huge, gives non-negative int64-safe values
        self.seed = seed % SEED_MOD
        self.op_seed = seed
        self.n = rows_per_append
        self.cycles = max(1, round(seconds / NOMINAL_CYCLE_S))
        self.loc = None
        self.db = None
        self._plan()

    # --- the op sequence: a pure function of the seed ------------------

    def _plan(self) -> None:
        rng = random.Random(self.op_seed)
        self._warmup: list[Op] = []
        self._timed: list[Op] = []
        a = 0  # appends so far
        new_ids = NEW_ID_BASE
        for c in range(self.cycles + 1):
            ops = self._warmup if c == 0 else self._timed
            for _ in range(6):
                ops.append(Op("append", (a * self.n, (a + 1) * self.n, a // 2)))
                a += 1
            day = (a - 1) // 2
            ops.append(Op("delete", ((day - 2, day + 1), rng.randrange(7))))
            ops.append(Op("update", ((day, day + 1), rng.choice(TYPES),
                                     rng.randrange(1, 100))))
            matched, fresh = self.n // 5, self.n // 10
            lo = (a - 3) * self.n + rng.randrange(self.n - matched)
            ops.append(Op("merge", (lo, lo + matched, (a - 3) // 2,
                                    new_ids, new_ids + fresh, day,
                                    1000 + rng.randrange(1000))))
            new_ids += fresh
            if c == 0 or c % 2 == 1:
                ops.append(Op("read", ((day - 2, day + 1),)))
            if c == 0 or c % 2 == 0:
                ops.append(Op("maintain", ()))

    def warmup_ops(self) -> list[Op]:
        return self._warmup

    def timed_ops(self) -> list[Op]:
        return self._timed

    # --- table ------------------------------------------------------------

    def build(self, loc: str) -> None:
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.IntegerType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.LongType()),
        ])
        dis.create_table(loc, schema, partition_by=["day(ts)"],
                         properties=PROPS)
        self.loc = loc
        if self.db is not None:
            self.db.close()
        self.db = duckdb.connect()
        self.db.execute(
            "CREATE TABLE events (event_id BIGINT, ts_s BIGINT, "
            "user_id INTEGER, event_type VARCHAR, value BIGINT)")

    def _rows(self, lo: int, hi: int, day: int, value_add: int = 0):
        from pyspark.sql import functions as F

        s, i = self.seed, F.col("id")
        return self.spark.range(lo, hi).select(
            i.alias("event_id"),
            F.timestamp_seconds(F.lit(BASE_S + day * 86400)
                                + (i * 7919 + s) % 86400).alias("ts"),
            ((i * 31 + s) % 1000).cast("int").alias("user_id"),
            F.element_at(F.array(*[F.lit(t) for t in TYPES]),
                         ((i * 13 + s) % 4 + 1).cast("int")).alias("event_type"),
            ((i * 37 + s * 11) % 1000 + value_add).alias("value"))

    def _duck_rows(self, lo: int, hi: int, day: int, value_add: int = 0) -> str:
        s = self.seed
        types = ", ".join(f"'{t}'" for t in TYPES)
        return (f"SELECT range AS event_id, "
                f"{BASE_S + day * 86400} + (range * 7919 + {s}) % 86400 AS ts_s, "
                f"CAST((range * 31 + {s}) % 1000 AS INTEGER) AS user_id, "
                f"[{types}][(range * 13 + {s}) % 4 + 1] AS event_type, "
                f"(range * 37 + {s} * 11) % 1000 + {value_add} AS value "
                f"FROM range({lo}, {hi})")

    # --- ops --------------------------------------------------------------

    def run_op(self, op: Op):
        from pyspark.sql import functions as F

        spark, loc = self.spark, self.loc
        if op.kind == "append":
            lo, hi, day = op.args
            return dis.write_iceberg(self._rows(lo, hi, day), loc)
        if op.kind == "delete":
            days, r = op.args
            return delete_from(spark, loc,
                               f"{_window(days)[0]} AND user_id % 7 = {r}")
        if op.kind == "update":
            days, etype, k = op.args
            return update_iceberg(spark, loc, {"value": f"value + {k}"},
                                  f"{_window(days)[0]} AND event_type = '{etype}'")
        if op.kind == "merge":
            lo, hi, mday, nlo, nhi, day, add = op.args
            src = self._rows(lo, hi, mday, add).unionByName(
                self._rows(nlo, nhi, day))
            return merge_into(spark, loc, src, "tgt.event_id = src.event_id",
                              when_matched_update={"value": "src.value"},
                              when_not_matched_insert=True)
        if op.kind == "read":
            (days,) = op.args
            rows = (dis.iceberg_scan(spark, loc, where=_window(days)[0])
                    .groupBy("event_type")
                    .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
                    .collect())
            return sorted(tuple(r) for r in rows)
        if op.kind == "maintain":
            return (dis.rewrite_position_delete_files(spark, loc),
                    dis.rewrite_data_files(spark, loc),
                    dis.expire_snapshots(loc, retain_last=5))
        raise ValueError(f"unknown op kind {op.kind}")

    def expected(self, op: Op):
        """Replay ``op`` on DuckDB; for a read, return its expected rows."""
        db = self.db
        if op.kind == "append":
            db.execute(f"INSERT INTO events {self._duck_rows(*op.args)}")
        elif op.kind == "delete":
            days, r = op.args
            db.execute(f"DELETE FROM events WHERE {_window(days)[1]} "
                       f"AND user_id % 7 = {r}")
        elif op.kind == "update":
            days, etype, k = op.args
            db.execute(f"UPDATE events SET value = value + {k} WHERE "
                       f"{_window(days)[1]} AND event_type = '{etype}'")
        elif op.kind == "merge":
            lo, hi, mday, nlo, nhi, day, add = op.args
            db.execute(f"CREATE OR REPLACE TEMP TABLE src AS "
                       f"{self._duck_rows(lo, hi, mday, add)} UNION ALL "
                       f"{self._duck_rows(nlo, nhi, day)}")
            db.execute("UPDATE events SET value = src.value FROM src "
                       "WHERE events.event_id = src.event_id")
            db.execute("INSERT INTO events SELECT * FROM src WHERE event_id "
                       "NOT IN (SELECT event_id FROM events)")
        elif op.kind == "read":
            (days,) = op.args
            return sorted(db.execute(
                f"SELECT event_type, count(*), sum(value) FROM events "
                f"WHERE {_window(days)[1]} GROUP BY event_type").fetchall())
        return None

    def check(self, op: Op, result, expected) -> str | None:
        if op.kind == "read" and result != expected:
            return f"read {op.args}: got {result}, expected {expected}"
        return None

    def end_state(self) -> str | None:
        """Row count and an order-independent checksum against DuckDB."""
        from pyspark.sql import functions as F

        got = dis.iceberg_scan(self.spark, self.loc).agg(
            F.count("*"),
            F.sum(F.expr(CHECKSUM.format(ts_s="unix_timestamp(ts)")))).first()
        want = self.db.execute(
            f"SELECT count(*), sum({CHECKSUM.format(ts_s='ts_s')}) "
            f"FROM events").fetchone()
        if tuple(got) != tuple(want):
            return f"end state: got {tuple(got)}, expected {tuple(want)}"
        return None

    def table_stats(self) -> dict:
        tm = load_table_metadata(self.loc)
        snap = tm.current_snapshot()
        manifests = mf.read_manifest_list(snap.manifest_list)
        data = deletes = 0
        for m in manifests:
            for e in mf.read_manifest(m.manifest_path):
                if e.status == mf.STATUS_DELETED:
                    continue
                if e.data_file.content == mf.CONTENT_DATA:
                    data += 1
                else:
                    deletes += 1
        return {"data_files": data, "delete_files": deletes,
                "manifests": len(manifests), "snapshots": len(tm.snapshots)}

    def live_rows(self) -> int:
        return self.db.execute("SELECT count(*) FROM events").fetchone()[0]
