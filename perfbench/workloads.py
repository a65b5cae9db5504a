"""The benchmark's workloads: closed loops with one client, driving the
program only through its public functions, the way its CLI does.

Each workload runs passes. Pass 0 runs in the fresh session (the cold cost a
one-shot CLI user pays); later passes are warm. Every call into the program
goes through ``Runner.op``, which times it and, in a traced run, records its
span and the Spark jobs it ran.
"""

from __future__ import annotations

import os
import random
import sys
import traceback

from checks import (
    check_deviations,
    check_fact_counts,
    check_node_counts,
    check_query,
    load_digests,
)
from inputs import DAY0_DIR, input_bytes, write_next_day
from spans import Trace, self_time


class Abort(Exception):
    """An operation the rest of the pass depends on failed."""


class Runner:
    """Times every operation; with a ``SparkStatus`` also traces it."""

    def __init__(self, clock, status=None) -> None:
        self.clock = clock
        self.status = status
        self.trace = Trace()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []  # {"wall_s", "ops": [(name, command, seconds)], "span"}
        self._pass: dict | None = None

    def begin_pass(self, index: int) -> None:
        span = self.trace.open("pass", f"pass {index}", "bench", self.clock.now())
        self._pass = {"index": index, "ops": [], "span": span, "read_s0": self._read_s()}

    def end_pass(self) -> dict:
        p = self._pass
        p["span"].end = self.clock.now()
        p["wall_s"] = p["span"].duration
        p["trace_read_s"] = self._read_s() - p.pop("read_s0")
        self.passes.append(p)
        self._pass = None
        return p

    def _read_s(self) -> float:
        return self.status.read_s if self.status else 0.0

    def fail(self, message: str) -> None:
        self.failed += 1
        self.errors.append(message)
        print(f"perfbench: FAILED {message}", file=sys.stderr)

    def op(self, name: str, command: str, fn, *args, required: bool = True):
        """Run ``fn(*args)`` as operation ``name`` of user command
        ``command``; the module layer is the name's first component, or
        ``registry`` for ``q.<query>``."""
        self.attempted += 1
        start = self.clock.now()
        try:
            result, ok = fn(*args), True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            result, ok = None, False
        end = self.clock.now()
        self._pass["ops"].append((name, command, end - start))
        if self.status is not None:
            layer = "registry" if name.startswith("q.") else name.split(".")[0]
            span = self.trace.open("op", name, layer, start, self._pass["span"])
            span.end = end
            jobs, counters = self.status.drain()
            for job in jobs:
                child = self.trace.open("job", job.name, "spark", job.start, span)
                child.end, child.attrs = job.end, job.attrs
            span.attrs.update(counters)
            span.attrs["driver_only_s"] = self_time(span, jobs)
        if not ok:
            self.fail(f"{name} raised")
            if required:
                raise Abort(name)
        return result


def register_views(spark, cat) -> None:
    """The CLI's view names over a loaded catalog: ``n_<Label>`` per node
    table, ``e_<src>__<rel>__<dst>`` per edge table (the CLI's own helper is
    private to ``cartography_spark.cli``)."""
    for label, df in cat.nodes.items():
        df.createOrReplaceTempView(f"n_{label}")
    for (sl, rl, dl), df in cat.edges.items():
        df.createOrReplaceTempView(f"e_{sl}__{rl}__{dl}")


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class InventoryCycle:
    """The nightly product path, one day per pass: ``sync`` (then save and
    the node-count summary), ``rules run --format json`` over the nine
    catalog rules (the CLI's default rule set), ``drift get-state``; from
    day 1 on, ``drift detect``
    between yesterday's and today's states. Day 0 is the committed sf0.1
    input; day ``d`` is a seeded perturbation of day ``d-1`` written at
    set-up of that day, outside the timed pass."""

    name = "inventory_cycle"
    # (template name, validation query over the CLI views,
    #  the same query over the raw input tables of schema {db})
    DRIFT_QUERIES = (
        (
            "suppliers",
            "SELECT id, name, acctbal FROM n_Supplier",
            "SELECT s_suppkey AS id, s_name AS name, s_acctbal AS acctbal FROM {db}.supplier",
        ),
    )

    def __init__(self, spark, runner: Runner, work: str, seed: int) -> None:
        from cartography_spark.plans import driftarchive as da

        self.spark, self.runner, self.work, self.seed = spark, runner, work, seed
        self.state_dir = os.path.join(work, "drift-state")
        self.days: list[dict] = []
        for name, sql, _ in self.DRIFT_QUERIES:  # `drift init-query`, once
            da.init_query(self.state_dir, name, sql)

    def day_dir(self, day: int) -> str:
        if day == 0:
            return DAY0_DIR
        path = os.path.join(self.work, f"input-day{day}")
        if not os.path.isdir(path):
            write_next_day(self.day_dir(day - 1), path, self.seed, day)
        return path

    def prepare(self, index: int) -> None:
        self.day_dir(index)

    def run_pass(self, day: int) -> None:
        from cartography_spark.catalog import GraphCatalog
        from cartography_spark.plans import driftarchive as da
        from cartography_spark.plans.graph_fixture import stage_fns
        from cartography_spark.plans.rules import run_rules
        from cartography_spark.plans.rules_formatters import format_json
        from cartography_spark.plans.rules_library import CATALOG_RULES
        from cartography_spark.sync import build_staged_sync

        spark, op = self.spark, self.runner.op
        sf_dir = self.day_dir(day)
        warehouse = os.path.join(self.work, f"warehouse-day{day}")
        record = {"day": day, "sf_dir": sf_dir, "warehouse": warehouse}

        # sync --sf-dir D --warehouse W
        cat = GraphCatalog(spark)
        cat.partition_cols["Supplier"] = "region_id"
        sync = build_staged_sync(stage_fns(spark, sf_dir))
        errors = op("sync.plan", "sync", sync.run, cat, {"UPDATE_TAG": 1_700_000_000 + 86_400 * day})
        if errors:
            self.runner.fail(f"sync stages failed: {sorted(errors)}")
            raise Abort("sync")
        op("catalog.save", "sync", cat.save, warehouse)
        record["node_counts"] = op(
            "sync.count", "sync", lambda: {label: cat.node(label).count() for label in sorted(cat.nodes)}
        )

        # rules run --warehouse W --format json
        loaded = op("catalog.load", "rules", GraphCatalog.load, spark, warehouse)
        rules = op("rules.build", "rules", list, CATALOG_RULES)
        results = op("rules.eval", "rules", run_rules, rules, loaded)
        op("rules.report", "rules", format_json, results)
        record["facts"] = [
            (fr.fact.fact_id, fr.failing_assets, fr.passing_assets, fr.total_assets)
            for r in results
            for fr in r.facts
        ]

        # drift get-state --warehouse W --state-dir S
        loaded = op("catalog.load", "drift", GraphCatalog.load, spark, warehouse)

        def get_states():
            register_views(spark, loaded)
            return da.get_states(self.state_dir, lambda sql: spark.sql(sql), filename=f"day{day}.json")

        op("drift.get_states", "drift", get_states)

        # drift detect --name N --start day{d-1}.json --end day{d}.json
        record["deviations"] = {}
        if day > 0:
            for name, _, _ in self.DRIFT_QUERIES:

                def detect(name=name):
                    start = da.load_state(spark, self.state_dir, name, f"day{day - 1}.json")
                    end = da.load_state(spark, self.state_dir, name, f"day{day}.json")
                    return [tuple(r) for r in da.perform_drift_detection(start, end).collect()]

                record["deviations"][name] = op("drift.detect", "drift", detect)
        self.days.append(record)

    def check(self) -> None:
        from cartography_spark.plans.registry import REGISTRY

        rules_oracle = REGISTRY["rules_library_run"].oracle  # covers every catalog rule
        for rec in self.days:
            day = rec["day"]
            for err in check_node_counts(rec["node_counts"], rec["sf_dir"]):
                self.runner.fail(f"day {day} node counts: {err}")
            for err in check_fact_counts(rec["facts"], rec["sf_dir"], rules_oracle):
                self.runner.fail(f"day {day} rules: {err}")
            for name, _, raw in self.DRIFT_QUERIES:
                if name in rec["deviations"]:
                    prev = self.day_dir(day - 1)
                    for err in check_deviations(rec["deviations"][name], raw, prev, rec["sf_dir"]):
                        self.runner.fail(f"day {day} drift {name}: {err}")

    def extras(self) -> dict:
        """Warehouse bytes per input byte over every day, the last day's
        warehouse size and its drift deviation count."""
        written = read = 0
        for rec in self.days:
            written += dir_size(rec["warehouse"])[0]
            read += input_bytes(rec["sf_dir"])
        last_bytes, last_files = dir_size(self.days[-1]["warehouse"])
        return {
            "warehouse_bytes_per_input_byte": written / read,
            "catalog.bytes_written": last_bytes,
            "catalog.files_written": last_files,
            "drift.deviations": sum(len(v) for v in self.days[-1]["deviations"].values()),
        }


class Analytics:
    """Registry queries over the committed sf0.1 input, each collected to
    pandas as a library caller would. The seed shuffles the query order of
    every pass. Two queries are hand-rolled fixpoint loops with
    ``localCheckpoint`` barriers (``operators.closure`` and
    ``cluster_min_label`` in ``operators.dedup``); the streaming session
    window is a single-pass reference through ``streaming``. The loops of
    ``operators.graph`` are left out: at sf0.1 on 4 cores the cheapest of
    them costs 15 s per run, more than the run budget leaves."""

    name = "analytics"
    QUERIES = (
        "variable_length_closure",
        "dedup_embedding_collapsed",
        "streaming_session_window",
    )

    def __init__(self, spark, runner: Runner, work: str, seed: int) -> None:
        self.spark, self.runner = spark, runner
        self.rng = random.Random(seed)
        self.outputs: dict[str, object] = {}

    def prepare(self, index: int) -> None:
        pass

    def run_pass(self, index: int) -> None:
        from cartography_spark.plans.registry import REGISTRY

        order = list(self.QUERIES)
        self.rng.shuffle(order)
        for name in order:
            spec = REGISTRY[name]
            pdf = self.runner.op(
                f"q.{name}", "query", lambda: spec.spark(self.spark, DAY0_DIR).toPandas(), required=False
            )
            if index == 0:
                self.outputs[name] = pdf

    def extras(self) -> dict:
        return {}

    def check(self) -> None:
        from cartography_spark.plans.registry import REGISTRY

        digests = load_digests()
        for name in self.QUERIES:
            pdf = self.outputs.get(name)
            if pdf is None:
                continue  # already counted as failed when it raised
            err = check_query(name, REGISTRY[name].oracle, pdf, DAY0_DIR, digests)
            if err:
                self.runner.fail(f"{name}: {err}")


WORKLOADS = {w.name: w for w in (InventoryCycle, Analytics)}
