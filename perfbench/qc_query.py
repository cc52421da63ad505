"""``qc_query``: one client in a closed loop sending Sentinel's reference
queries through the operator functions over the sf0.1-shaped tables.

A round is the 13 query kinds below in a seeded order: six data-point
retrievals (about half), four stats aggregations (about a third) and
three record-shaping queries. The loop runs whole rounds, so every run
measures the same mix. Each result is collected to the driver, as a
client receives it, and checked against DuckDB on the same parquet
with the same parameters after the timed region.
"""

from __future__ import annotations

import json
import math
import random
import time

from pyspark.sql import functions as F

from sentinel_spark.cache import release
from sentinel_spark.operators import selectors as S
from sentinel_spark.operators.aggregate import aggregate_fragment_stats, aggregate_stats
from sentinel_spark.operators.datapoints import get_datapoints, id_lookup
from sentinel_spark.operators.joins import enrich_runs_with_unit_labels
from sentinel_spark.operators.maintenance import apply_label_patch, parse_patches
from sentinel_spark.operators.render import render_records
from sentinel_spark.operators.rollup import pipeline_stats
from sentinel_spark.sources.tables import load_table

import inputs

# query kind → the operators module it exercises
KINDS = {
    "dp_time_sorted": "datapoints",
    "dp_shuffle": "datapoints",
    "dp_label_masked": "datapoints",
    "dp_ownership": "datapoints",
    "id_lookup": "datapoints",
    "selector_algebra": "selectors",
    "agg_stats": "aggregate",
    "agg_stats_grouped": "aggregate",
    "fragment_stats": "aggregate",
    "pipeline_rollup": "rollup",
    "unit_labels_join": "joins",
    "render_records": "render",
    "label_patch": "maintenance",
}
MODULES = sorted(set(KINDS.values()))
ORDERED = {"dp_time_sorted", "dp_shuffle", "dp_label_masked", "dp_ownership",
           "agg_stats_grouped", "pipeline_rollup"}


# -- Spark side: one function per kind, calling the public operators ---------

def _stats_sql(field: str, alias: str) -> str:
    x = f"CAST({field} AS DOUBLE)"
    return (f"count({x}) AS {alias}_nDataPoints, round(avg({x}), 6) AS {alias}_avg, "
            f"min({x}) AS {alias}_min, max({x}) AS {alias}_max, "
            f"quantile_cont({x}, 0.5) AS {alias}_median, "
            f"round(var_pop({x}), 6) AS {alias}_variance, "
            f"round(stddev_pop({x}), 6) AS {alias}_stdev")


def build(kind: str, t: dict, p: dict):
    L, O = t["lineitem"], t["orders"]
    if kind == "dp_time_sorted":
        return get_datapoints(
            L, selector=S.combine_and(S.many_contain_one("l_returnflag", p["flags"]), F.col("l_quantity") < p["max_qty"]),
            projection=["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"],
            time_sorted=True, time_col="l_shipdate", tiebreak=["l_orderkey", "l_linenumber"],
            n_limit=p["limit"])
    if kind == "dp_shuffle":
        return get_datapoints(
            L, selector=S.one_match_one("l_returnflag", p["flag"]),
            projection=["l_orderkey", "l_linenumber", "l_quantity"],
            shuffle_seed=p["shuffle_seed"], shuffle_key_cols=["l_orderkey", "l_linenumber"],
            n_limit=p["limit"])
    if kind == "dp_label_masked":
        return get_datapoints(
            L, selector=F.col("l_quantity") >= p["min_qty"], user_id=p["user"],
            projection=["l_orderkey", "l_linenumber", "l_suppkey", "l_quantity", "l_returnflag"],
            mask_label_cols=["l_returnflag"], mask_owner_attr="l_suppkey",
            time_sorted=True, time_col="l_orderkey", tiebreak=["l_linenumber"], n_limit=p["limit"])
    if kind == "dp_ownership":
        return get_datapoints(
            O, selector=S.negate(S.one_match_one("o_orderstatus", p["hidden_status"])),
            user_id=p["user"], owner_attr="o_custkey",
            projection=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
            time_sorted=True, time_col="o_orderdate", tiebreak=["o_orderkey"], n_limit=p["limit"])
    if kind == "id_lookup":
        return id_lookup(L, "l_orderkey", p["ids"], check_count=True).select(
            "l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    if kind == "selector_algebra":
        sel = S.combine_and(
            S.one_match_one("o_orderstatus", p["status"]),
            S.many_contain_one("o_custkey", p["custs"]),
            S.negate(S.one_match_one("o_orderpriority", p["not_priority"])),
            S.one_opt_match_one("o_orderstatus", None),
        )
        return S.apply_selector(O, sel).select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    if kind == "agg_stats":
        return aggregate_stats(L, p["fields"], selector=S.one_match_one("l_linestatus", p["linestatus"]))
    if kind == "agg_stats_grouped":
        return aggregate_stats(L, p["fields"], group_by=[p["group_by"]])
    if kind == "fragment_stats":
        src = L.select(
            F.struct(F.struct(F.col(p["read1"]).alias("q")).alias("read1"),
                     F.struct(F.col(p["read2"]).alias("q")).alias("read2"),
                     F.col(p["frag"]).alias("frag")).alias("stats"),
            (F.col("l_linestatus") == "F").alias("isPaired"))
        return aggregate_fragment_stats(src, ["q"], fragment_fields=["frag"], lib_type=p["lib_type"],
                                        read_levels=("read1", "read2"))
    if kind == "pipeline_rollup":
        per = L.groupBy("l_orderkey").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("l_linestatus") == "F").cast("long")).alias("rg"))
        runs = O.join(per, O.o_orderkey == per.l_orderkey, "left").select(
            F.col(p["pipeline"]).alias("pipeline"),
            F.coalesce(F.col("n"), F.lit(0)).alias("nSamples"),
            F.coalesce(F.col("rg"), F.lit(0)).alias("nReadGroups"),
            F.when(F.col("o_orderkey") % p["deleted_mod"] == 0, F.col("o_orderdate")).alias("deletionTimeUtc"))
        return pipeline_stats(runs)
    if kind == "unit_labels_join":
        runs = O.where(S.many_contain_one("o_custkey", p["custs"])).select(F.col("o_orderkey").alias("runId"), "o_orderstatus")
        # the units of the listed runs only, as the reference fetches them by id
        samples = L.join(runs.select(F.col("runId").alias("l_orderkey")), "l_orderkey", "left_semi").select(
            F.col("l_orderkey").alias("runId"), F.col("l_linenumber").alias("dbId"),
            F.struct(F.col("l_returnflag").alias("flag"), F.col("l_linestatus").alias("status")).alias("labels"))
        return enrich_runs_with_unit_labels(runs, samples=samples)
    key = F.col("o_orderkey")
    if kind == "render_records":
        runs = O.where(S.many_contain_one("o_custkey", p["custs"])).select(
            F.concat(F.lit("r"), key.cast("string")).alias("runId"),
            F.col("o_orderpriority").alias("pipeline"),
            F.array(F.lit("s1")).alias("sampleIds"),
            F.array(F.lit("rg1")).alias("readGroupIds"),
            F.struct(
                F.when(key % p["notes_mod"] != 0,
                       F.concat(F.lit("note-"), F.col("o_custkey").cast("string"))).alias("notes"),
                F.when(key % p["tags_mod"] != 0, F.array(F.col("o_orderstatus"))).alias("tags"),
            ).alias("labels"))
        return render_records(runs, ["runId"])
    if kind == "label_patch":
        runs = O.where(S.many_contain_one("o_custkey", p["custs"])).select(
            F.concat(F.lit("r"), key.cast("string")).alias("runId"), key.alias("k"),
            F.struct(F.concat(F.lit("run-"), key.cast("string")).alias("runName"),
                     F.lit(None).cast("string").alias("notes"),
                     F.create_map(F.lit("env"), F.lit("prod")).alias("tags")).alias("labels"))
        rename, add_tag, drop_tag = parse_patches([
            {"op": "replace", "path": "/labels/runName", "value": p["new_name"]},
            {"op": "add", "path": f"/labels/tags/{p['tag']}", "value": p["tag_value"]},
            {"op": "remove", "path": "/labels/tags/env"},
        ])
        out = apply_label_patch(runs, F.col("k") % p["rename_mod"] == 0, rename)
        out = apply_label_patch(out, F.col("k") % p["rename_mod"] == 0, add_tag)
        out = apply_label_patch(out, F.col("k") % p["drop_mod"] == 0, drop_tag)
        return out.select("runId", "k", F.col("labels.runName").alias("run_name"),
                          F.to_json(F.col("labels.tags")).alias("tags_json"))
    raise KeyError(kind)


# -- DuckDB side: the expected result of each kind ----------------------------

def _lst(vals) -> str:
    return ", ".join(repr(v) for v in vals)


def expected(con, kind: str, p: dict):
    """Expected rows, as comparable tuples (order kept for ORDERED kinds)."""
    q = con.execute
    if kind == "dp_time_sorted":
        return q(f"""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate FROM L
            WHERE l_returnflag IN ({_lst(p['flags'])}) AND l_quantity < {p['max_qty']}
            ORDER BY l_shipdate DESC, l_orderkey, l_linenumber LIMIT {p['limit']}""").fetchall()
    if kind == "dp_shuffle":
        return q(f"""SELECT l_orderkey, l_linenumber, l_quantity FROM L WHERE l_returnflag = '{p['flag']}'
            ORDER BY md5(concat_ws('|', '{p['shuffle_seed']}', CAST(l_orderkey AS VARCHAR),
                                   CAST(l_linenumber AS VARCHAR))) LIMIT {p['limit']}""").fetchall()
    if kind == "dp_label_masked":
        return q(f"""SELECT l_orderkey, l_linenumber, l_suppkey, l_quantity,
                   CASE WHEN l_suppkey = {p['user']} THEN l_returnflag END FROM L
            WHERE l_quantity >= {p['min_qty']} ORDER BY l_orderkey DESC, l_linenumber
            LIMIT {p['limit']}""").fetchall()
    if kind == "dp_ownership":
        return q(f"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM O
            WHERE NOT (o_orderstatus = '{p['hidden_status']}') AND o_custkey = {p['user']}
            ORDER BY o_orderdate DESC, o_orderkey LIMIT {p['limit']}""").fetchall()
    if kind == "id_lookup":
        return q(f"""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM L
            WHERE l_orderkey IN ({_lst(p['ids'])})""").fetchall()
    if kind == "selector_algebra":
        return q(f"""SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM O
            WHERE o_orderstatus = '{p['status']}' AND o_custkey IN ({_lst(p['custs'])})
              AND NOT (o_orderpriority = '{p['not_priority']}')""").fetchall()
    if kind == "agg_stats":
        cols = ", ".join(_stats_sql(f, f) for f in p["fields"])
        return q(f"SELECT {cols} FROM L WHERE l_linestatus = '{p['linestatus']}'").fetchall()
    if kind == "agg_stats_grouped":
        g = p["group_by"]
        cols = ", ".join(_stats_sql(f, f) for f in p["fields"])
        return q(f"SELECT {g}, {cols} FROM L GROUP BY {g} ORDER BY {g}").fetchall()
    if kind == "fragment_stats":
        where = {"paired": "WHERE l_linestatus = 'F'", "single": "WHERE l_linestatus <> 'F'",
                 None: ""}[p["lib_type"]]
        levels = [("read1", p["read1"])] + ([] if p["lib_type"] == "single" else [("read2", p["read2"])])
        cols = [_stats_sql(f, f"{lvl}_q") for lvl, f in levels] + [_stats_sql(p["frag"], "frag")]
        return q(f"SELECT {', '.join(cols)} FROM L {where}").fetchall()
    if kind == "pipeline_rollup":
        return q(f"""WITH per AS (SELECT l_orderkey, count(*) AS n,
                       sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS rg FROM L GROUP BY 1)
            SELECT {p['pipeline']}, count(*), sum(coalesce(n, 0)), sum(coalesce(rg, 0))
            FROM O LEFT JOIN per ON o_orderkey = l_orderkey
            WHERE o_orderkey % {p['deleted_mod']} <> 0 GROUP BY 1 ORDER BY 1""").fetchall()
    rows = q(f"""SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM O
        WHERE o_custkey IN ({_lst(p['custs'])})""").fetchall()
    if kind == "unit_labels_join":
        units = q(f"""SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus FROM L
            WHERE l_orderkey IN (SELECT o_orderkey FROM O WHERE o_custkey IN ({_lst(p['custs'])}))""").fetchall()
        labels: dict = {}
        for k, ln, flag, st in units:
            labels.setdefault(k, {})[ln] = (flag, st)
        return [(k, st, labels.get(k)) for k, _, st, _ in rows]
    if kind == "render_records":
        out = []
        for k, cust, st, prio in rows:
            lab = {}
            if k % p["notes_mod"]:
                lab["notes"] = f"note-{cust}"
            if k % p["tags_mod"]:
                lab["tags"] = [st]
            rec = {"runId": f"r{k}", "pipeline": prio, **({"labels": lab} if lab else {})}
            out.append((f"r{k}", rec))
        return out
    if kind == "label_patch":
        out = []
        for k, *_ in rows:
            tags = {"env": "prod"}
            renamed = k % p["rename_mod"] == 0
            if renamed:
                tags[p["tag"]] = p["tag_value"]
            if k % p["drop_mod"] == 0:
                tags.pop("env")
            out.append((f"r{k}", k, p["new_name"] if renamed else f"run-{k}", tags))
        return out
    raise KeyError(kind)


def observed(kind: str, rows) -> list[tuple]:
    """Collected Spark rows in the same shape as :func:`expected`."""
    if kind == "unit_labels_join":
        return [(r.runId, r.o_orderstatus,
                 {k: tuple(v) for k, v in r.sampleLabels.items()} if r.sampleLabels is not None else None)
                for r in rows]
    if kind == "render_records":
        return [(r.runId, json.loads(r.rendered)) for r in rows]
    if kind == "label_patch":
        return [(r.runId, r.k, r.run_name, json.loads(r.tags_json)) for r in rows]
    return [tuple(r) for r in rows]


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=2e-6)
    if isinstance(a, (tuple, list)) and isinstance(b, (tuple, list)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def results_match(kind: str, got: list, want: list) -> bool:
    if kind not in ORDERED:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    return len(got) == len(want) and all(_same(g, w) for g, w in zip(got, want))


# -- the workload ----------------------------------------------------------------

def draw_round(rnd: random.Random) -> list[tuple[str, dict]]:
    """One round: every kind once, in a seeded order, with seeded parameters."""
    kinds = list(KINDS)
    rnd.shuffle(kinds)
    return [(k, inputs.qc_params(rnd, k)) for k in kinds]


class QcQuery:
    round_len = len(KINDS)
    # Two timed rounds per run: with one, the spread between runs on a
    # quiet host was ~0.2 (the seed also draws each query's parameters);
    # each round costs ~7 s of the run budget.
    min_rounds = 2

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.dir = f"{work_dir}/tables"
        self.paths = inputs.write_qc_tables(seed, self.dir)
        self.tables: dict = {}
        self.done: list[tuple[str, dict, list]] = []  # (kind, params, rows) per timed query

    def _query(self, tracer, kind: str, p: dict, request: str) -> list:
        with tracer.span("request", layer=f"operators.{KINDS[kind]}", request=request, kind=kind):
            with tracer.span("build"):
                df = build(kind, self.tables, p)
            if tracer.enabled:
                # plan ahead of the action so planning is timed on its own;
                # the action reuses this QueryExecution's plan
                with tracer.span("plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("action"):
                rows = df.collect()
            release(df)
        return rows

    def prepare(self, spark, tracer, i: int) -> None:
        """Load the tables (the table fan-out probes run here)."""
        with tracer.span("request", layer="sources.tables", request=f"prepare{i}"):
            with tracer.span("build"):
                self.tables = {n: load_table(spark, self.dir, n) for n in ("lineitem", "orders")}

    def warm_up(self, spark, tracer) -> None:
        """One round of every kind with its own parameters: codegen
        compiles and the JVM warms up here, not in the timed round."""
        for j, (kind, p) in enumerate(draw_round(random.Random(f"{self.seed}/warmup"))):
            self._query(tracer, kind, p, f"warmup.{j}")

    def run(self, spark, tracer, seconds: float, min_ops: int) -> list[dict]:
        rnd = random.Random(f"{self.seed}/timed")
        ops = []
        t_start = time.perf_counter()
        while len(ops) < min_ops or time.perf_counter() - t_start < seconds:
            for kind, p in draw_round(rnd):
                t0 = time.perf_counter()
                rows = self._query(tracer, kind, p, f"q{len(ops)}")
                ops.append({"ms": (time.perf_counter() - t0) * 1000.0, "items": 1, "kind": kind})
                self.done.append((kind, p, rows))
        return ops

    def latency_ms(self, op: dict) -> float:
        return op["ms"]

    def check(self, spark, ops: list[dict]) -> list[bool]:
        import duckdb

        con = duckdb.connect()
        con.execute(f"CREATE VIEW L AS SELECT * FROM read_parquet('{self.paths['lineitem']}')")
        con.execute(f"CREATE VIEW O AS SELECT * FROM read_parquet('{self.paths['orders']}')")
        ok = [results_match(kind, observed(kind, rows), expected(con, kind, p))
              for kind, p, rows in self.done]
        con.close()
        return ok

    def layer_metrics(self, counted_ops: list[dict], tot, per_layer) -> dict:
        n = max(1, len(counted_ops))
        out = {"sources.tables.scan_bytes": tot["scan_bytes"] / n,
               "sources.tables.fanout_exchanges": tot["fanout_exchanges"] / n}
        for mod in MODULES:
            ms = [o["ms"] for o in counted_ops if KINDS[o["kind"]] == mod]
            out[f"operators.{mod}.ms"] = sum(ms) / len(ms) if ms else 0.0
        return out
