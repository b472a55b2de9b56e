"""The benchmark workloads.

Each is a closed loop with one client: ``run_op`` returns only when the
operation's result is complete, and the next operation starts after it.
``generate`` and ``warm_up`` are set-up. ``round_done`` tells whether the
operations run so far make whole rounds of the workload's fixed work.
``check`` runs outside the timed region, compares the outputs with an
independent answer and returns one problem string per wrong output. Why
each workload exists, and how it was sized, is in README.md.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa

from gen import (corpus, day_iso, day_sessions, dimensions, session_transcripts,
                 warehouse_tables, write_tables)

# daily_sync: a small first day creates the warehouse and warms the JVM up;
# the timed day's 1,200 sessions are ~600 per half-day window, a full
# 500-row page and a short one each
SYNC_WARM_SESSIONS, SYNC_SESSIONS = 200, 1200
# analytics: the BI mix over warehouse tables at sf0.02 row counts, and
# one curation chain over a 1,500-document corpus per round
BI_SCALE = 0.02
BI_QUERIES = ("q1_pricing_summary", "q5_revenue_by_nation",
              "q_topk_orders_per_segment", "q_sessionize_events",
              "q_hourly_event_rollup", "q_dedup_latest_event",
              "q_rollup_order_status", "q_market_share",
              "q_funnel_conversion", "q_cohort_retention",
              "q_range_join_events", "q_dsl_filter_events",
              "q_count_pushdown", "q_semi_join_reviewed")
CURATION = "curation_chain"
CURATION_DOCS = 1500
CURATION_RATES = {f"src{i}": 0.5 for i in range(5)}
CURATION_DEFAULT_RATE = 0.9


def build_query(spark, name: str, sf_dir: str):
    from etl_ender_turing_spark.plans import CATALOG
    return CATALOG[name].builder(spark, sf_dir)


def collect_query(df):
    return df.toPandas()


def _compare(name: str, got, want) -> list[str]:
    """Order-insensitive value comparison of two pandas frames, with the
    canonicalisation of the catalog's oracle check."""
    from tools.check_oracle import canon

    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    g = canon(list(got.itertuples(index=False, name=None)), list(got.columns))
    w = canon(list(want.itertuples(index=False, name=None)), list(want.columns))
    if g != w:
        return [f"{name}: {len(g)} rows differ from the oracle's {len(w)}"]
    return []


class DailySync:
    """The reference's cron, one day per operation, into a growing
    warehouse. Extract and land: an HTTP double of the sessions API
    publishes the day, and ``run_api_stream_sync`` re-invoked on the same
    checkpoint pages through the new half-day windows and MERGEs them into
    the unpartitioned ``sessions_stream`` table. Transform and load:
    ``sync_period`` flattens the day's nested entities (generated into
    parquet at set-up) into the star schema and MERGEs every table, the
    sessions fact into its date partitions. Set-up syncs a small first day,
    which creates every table; the run times the second day, which MERGEs
    into them, whatever the speed, so every run times the same work."""
    item = "session"

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.seed = spark, seed
        self.raw_dir = os.path.join(work, "raw")
        self.warehouse = os.path.join(work, "warehouse")
        self.checkpoint = os.path.join(work, "checkpoint")
        self.day = 0
        self.api = None

    def generate(self) -> None:
        from api_double import SessionsApiDouble
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import _parse_datatype_string

        from etl_ender_turing_spark.pipeline.fixtures import _DDL

        self.days = [day_sessions(self.seed, 0, SYNC_WARM_SESSIONS),
                     day_sessions(self.seed, 1, SYNC_SESSIONS)]
        sessions = [s for day in self.days for s in day]
        self.transcripts = session_transcripts(self.seed, sessions)
        raw = {**dimensions(self.seed), "sessions": sessions,
               "transcripts": self.transcripts}
        # the API's entities landed as parquet in their declared schemas
        write_tables({name: pa.Table.from_pylist(
            rows, schema=to_arrow_schema(_parse_datatype_string(_DDL[name])))
            for name, rows in raw.items()}, self.raw_dir)
        self.api = SessionsApiDouble()

    def warm_up(self) -> None:
        self.run_op()

    def has_next(self) -> bool:
        return self.day < len(self.days)

    def round_done(self) -> bool:
        return not self.has_next()

    def run_op(self) -> tuple[str, int]:
        from api_double import TOKEN
        from etl_ender_turing_spark.pipeline.sync import sync_period
        from etl_ender_turing_spark.streaming.stream import run_api_stream_sync

        d = day_iso(self.day)
        self.api.publish(self.days[self.day])
        run_api_stream_sync(self.spark, self.warehouse, self.checkpoint,
                            day_iso(0), d, endpoint=self.api.endpoint, token=TOKEN)
        raw = {f[:-len(".parquet")]: self.spark.read.parquet(os.path.join(self.raw_dir, f))
               for f in os.listdir(self.raw_dir)}
        sync_period(self.spark, raw, self.warehouse, d, d)
        self.day += 1
        return "sync_day", len(self.days[self.day - 1])

    def check(self) -> list[str]:
        """DuckDB reads the warehouse: every table's registry key is unique
        and non-null (``run_etl.audit_warehouse``'s rules), the sessions per
        date and the transcript rows are the generated ones, and the landed
        stream ids are the served and published ones."""
        import duckdb

        from etl_ender_turing_spark.schemas import TABLES

        def scan(table: str) -> str:
            return (f"read_parquet('{os.path.join(self.warehouse, table)}/**/*.parquet',"
                    " hive_partitioning = true)")

        synced = self.days[:self.day]
        problems = []
        con = duckdb.connect()
        try:
            landed = {r[0] for r in con.execute(
                f"SELECT id FROM {scan('sessions_stream')}").fetchall()}
            for name in sorted(os.listdir(self.warehouse)):
                key = TABLES[name].unique_key if name in TABLES else ()
                if not key:
                    continue
                cols = ", ".join(key)
                n, distinct, nulls = con.execute(
                    f"SELECT count(*), count(DISTINCT ({cols})), "
                    f"count(*) FILTER (WHERE {' OR '.join(f'{c} IS NULL' for c in key)}) "
                    f"FROM {scan(name)}").fetchone()
                if n != distinct or nulls:
                    problems.append(f"{name}: {n} rows, {distinct} distinct keys "
                                    f"({cols}), {nulls} with a NULL key column")
            per_date = dict(con.execute(
                f"SELECT CAST(start_date AS VARCHAR), count(*) FROM {scan('sessions')} "
                "GROUP BY 1").fetchall())
            utterances = con.execute(
                f"SELECT count(*) FROM {scan('sessions_transcripts')}").fetchone()[0]
        finally:
            con.close()
        want = {day_iso(i): len(day) for i, day in enumerate(synced)}
        if per_date != want:
            problems.append(f"sessions per start_date {sorted(per_date.items())} "
                            f"!= generated {sorted(want.items())}")
        published = {r["id"] for day in synced for r in day}
        want_utt = sum(len(t["utterances"]) for t in self.transcripts
                       if t["session_id"] in published)
        if utterances != want_utt:
            problems.append(f"sessions_transcripts holds {utterances} utterances, "
                            f"{want_utt} generated")
        if landed != self.api.served_ids:
            problems.append(f"sessions_stream holds {len(landed)} ids, the API "
                            f"served {len(self.api.served_ids)}; "
                            f"{len(landed ^ self.api.served_ids)} differ")
        if self.api.served_ids != published:
            problems.append(f"the API served {len(self.api.served_ids)} of "
                            f"{len(published)} published sessions")
        if self.api.errors:
            problems.append(f"the API answered {self.api.errors} requests with an error")
        return problems

    def output_dirs(self) -> list[str]:
        return [os.path.join(self.warehouse, n) for n in os.listdir(self.warehouse)]

    def close(self) -> None:
        if self.api is not None:
            self.api.close()


class Analytics:
    """Read path: rounds of a seeded permutation of the 14-query BI mix plus
    one corpus-curation chain; one round warms the JVM up. Each query's
    answer is collected to the client; the chain collects
    ``prepare_training_set`` and exports the same training set with
    ``write_training_shards``. The check compares the last answer of every
    member, and the exported shards, with the DuckDB oracles."""
    item = "op"

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.seed = spark, seed
        self.sf_dir = os.path.join(work, "sf")
        self.shards = os.path.join(work, "shards")
        self.rng = random.Random(seed)
        self.queue: list[str] = []
        self.answers: dict = {}

    def generate(self) -> None:
        write_tables(warehouse_tables(self.seed, BI_SCALE), self.sf_dir)
        write_tables({"documents": corpus(self.seed, CURATION_DOCS)}, self.sf_dir)

    def warm_up(self) -> None:
        for _ in range(len(BI_QUERIES) + 1):
            self.run_op()

    def has_next(self) -> bool:
        return True

    def round_done(self) -> bool:
        return not self.queue

    def run_op(self) -> tuple[str, int]:
        if not self.queue:
            members = BI_QUERIES + (CURATION,)
            self.queue = self.rng.sample(members, len(members))
        name = self.queue.pop()
        if name == CURATION:
            self._curate()
        else:
            self.answers[name] = collect_query(build_query(self.spark, name, self.sf_dir))
        return name, 1

    def _curate(self) -> None:
        from etl_ender_turing_spark.operators.curation import (
            prepare_training_set, write_training_shards)
        from etl_ender_turing_spark.sources.readers import read_table

        kept = prepare_training_set(read_table(self.spark, self.sf_dir, "documents"),
                                    CURATION_RATES, CURATION_DEFAULT_RATE)
        self.answers[CURATION] = kept.toPandas()
        self.shard_counts = write_training_shards(kept, self.shards)

    def check(self) -> list[str]:
        import duckdb

        from etl_ender_turing_spark.operators.curation import prepare_training_set_sql
        from etl_ender_turing_spark.plans import CATALOG

        con = duckdb.connect()
        try:
            con.execute("SET enable_progress_bar = false")
            for t in os.listdir(self.sf_dir):
                con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS "
                            f"SELECT * FROM '{os.path.join(self.sf_dir, t)}'")
            want = {name: con.execute(CATALOG[name].oracle).df() for name in BI_QUERIES}
            want[CURATION] = con.execute(prepare_training_set_sql(
                "documents", CURATION_RATES, CURATION_DEFAULT_RATE)).df()
        finally:
            con.close()
        problems = []
        for name, got in sorted(self.answers.items()):
            problems += _compare(name, got, want[name])
        shards = self.spark.read.parquet(self.shards).drop("shard").toPandas()
        problems += _compare("write_training_shards", shards, want[CURATION])
        if sum(self.shard_counts.values()) != len(want[CURATION]):
            problems.append(f"write_training_shards counted "
                            f"{sum(self.shard_counts.values())} rows, the oracle "
                            f"{len(want[CURATION])}")
        self.keep_ratio = len(self.answers[CURATION]) / CURATION_DOCS
        return problems

    def output_dirs(self) -> list[str]:
        return [self.shards]


WORKLOADS = {"daily_sync": DailySync, "analytics": Analytics}
