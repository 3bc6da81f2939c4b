"""The benchmark's two workloads. Each is a closed loop from one client:
the next op starts when the previous one has finished.

A workload gives ``n`` rounds of op names. The runner times ``build`` (the call
into the engine's query, pipeline or search function) and ``act`` (what
materializes the result) for each op, and calls ``check`` on the outcome
outside the timed region. ``finish`` runs the checks that need the whole
run.

- ``catalog_sweep``: a pinned list of registered catalog queries that spans
  the catalog's cost range, run in a seeded order, each built and collected
  after ``clearCache()`` and compared with its DuckDB oracle.
- ``forecast_e2e``: the reference's §3.1 program on a seeded CSV split
  family, with CSV sinks and a parquet star-schema warehouse that grows
  over the run; each round is a ``forecast`` op and a ``warehouse`` op.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import math
import os
import random
from dataclasses import dataclass, field

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))

SAMPLE_FILE = os.path.join(HERE, "catalog_sample.json")


@dataclass
class Ctx:
    """What a workload needs from the run."""
    spark: object
    root: str
    work: str
    sf_dir: str
    seed: int
    tracer: object
    info: dict = field(default_factory=dict)


def warm_python_workers(spark, cores: int) -> None:
    """Spawn the Python-worker pool: one pandas batch through a
    ``mapInPandas`` on each of ``cores`` partitions. Neither workload uses
    the model stack, so the workers do not import it."""
    def identity(batches):
        yield from batches

    (spark.range(0, 64 * cores, numPartitions=cores)
     .mapInPandas(identity, "id long")
     .write.format("noop").mode("overwrite").save())


# ------------------------------------------------------------ catalog_sweep

def pinned_sample() -> dict[str, float]:
    """The sweep's fixed query list with each query's reference seconds."""
    with open(SAMPLE_FILE) as fh:
        return json.load(fh)["sample"]


def sweep(sample: list[str], n: int, seed: int) -> list[list[str]]:
    """``n`` rounds, each the pinned list in an order set by ``seed``. The
    list does not depend on the registry, so a change that adds, removes or
    moves a catalog query runs the same queries as its parent. A per-seed
    sample of a few dozen queries from a 400-query catalog would make p50
    and tail differ by seed more than any bound a change could be held
    to."""
    rng = random.Random(seed)
    return [rng.sample(sample, len(sample)) for _ in range(n)]


def load_check_rules(root: str):
    """tools/check_correctness.py's comparison rules."""
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(cc, name: str, sdf, odf) -> str | None:
    """check_correctness's verdict for one query, or None when it passes."""
    if len(sdf) != len(odf):
        return f"row count {len(sdf)} vs oracle {len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"columns {sorted(sdf.columns)} vs oracle {sorted(odf.columns)}"
    bad = cc.dtype_mismatches(sdf, odf)
    if bad:
        return bad[0]
    if len(sdf) == 0 and name not in cc.EXPECTED_EMPTY:
        return "vacuous 0-row result"
    if name not in cc.ALLOWED_CONSTANT:
        degen = cc.degenerate_numeric(sdf)
        if degen:
            return degen
    a, b = cc.normalize_pdf(sdf), cc.normalize_pdf(odf)
    if not a.equals(b):
        return f"{int((a != b).any(axis=1).sum())}/{len(a)} rows differ"
    return None


class OracleCache:
    """DuckDB oracle answers, cached on disk keyed by query name and the
    hash of its oracle SQL and of the table build."""

    def __init__(self, cache_dir: str, sf_dir: str, tables):
        self.dir = cache_dir
        self.sf_dir = sf_dir
        self.tables = tables

    def answer(self, name: str, sql: str):
        import duckdb
        import pandas as pd

        key = hashlib.sha256(
            (datagen.TABLES_VERSION + "\n" + sql).encode()).hexdigest()[:16]
        path = os.path.join(self.dir, f"{name}.{key}.pkl")
        if os.path.isfile(path):
            return pd.read_pickle(path)
        os.makedirs(self.dir, exist_ok=True)
        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.sf_dir}/{t}.parquet'")
            odf = con.execute(sql).fetchdf()
        finally:
            con.close()
        odf.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return odf


class CatalogSweep:
    name = "catalog_sweep"
    #: reference seconds per round (warm JVM) on a 4-core x86 box
    round_s = 7.5

    def __init__(self, ctx: Ctx):
        import __spark_entry__ as entry
        from predictor_spark.sources.tables import TABLES

        self.ctx = ctx
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.cc = load_check_rules(ctx.root)
        self.sample = pinned_sample()
        self.oracle = OracleCache(os.path.join(ctx.root, ".perfbench", "oracle"),
                                  ctx.sf_dir, TABLES)
        ctx.info.update(queries=len(self.sample),
                        sf_dir=os.path.relpath(ctx.sf_dir, ctx.root))

    def warm(self) -> None:
        """Part of set-up: one untimed pass over the pinned list in its
        file order, so the timed rounds start with the tables read once,
        every query's generated code compiled and the JVM's JIT warm. In a
        fresh JVM a query's first run takes 1.2-2.9x its later ones, by an
        amount that varies from run to run with the load on the host. A
        query that fails here fails again as a timed op, where it counts."""
        spark, sf = self.ctx.spark, self.ctx.sf_dir
        for name in self.sample:
            try:
                self.queries[name](spark, sf).toPandas()
            except Exception:  # noqa: BLE001 - reported by its timed op
                pass
            spark.catalog.clearCache()

    def warm_workers(self, cores: int) -> None:
        warm_python_workers(self.ctx.spark, cores)

    def rounds(self, n: int) -> list[list[str]]:
        return sweep(list(self.sample), n, self.ctx.seed)

    def build(self, i: int, op: str):
        """A pinned query that is no longer registered, or has lost its
        oracle, fails its op; it is never replaced."""
        if op not in self.queries or op not in self.oracles:
            raise LookupError(f"pinned query {op} is not registered with an oracle")
        return self.queries[op](self.ctx.spark, self.ctx.sf_dir)

    def act(self, i: int, op: str, df):
        return df, (df.toPandas(), self.cc.nested_output_columns(df))

    def check(self, op: str, outcome) -> str | None:
        sdf, nested = outcome
        if nested:
            return f"nested output columns {nested}"
        return compare(self.cc, op, sdf, self.oracle.answer(op, self.oracles[op]))

    def finish(self) -> list[tuple[int, str]]:
        return []


# ------------------------------------------------------------- forecast_e2e

HORIZONS = [1, 3, 6]
#: split labels the warehouse's metric regex accepts; the pipeline labels
#: the val split "Val", so its results rows never become facts
WAREHOUSE_LABELS = ("Train", "Validation", "Test")


def forecast_config() -> dict:
    return {"target_column": datagen.TARGET, "ts_column": "DATE_TIME",
            "series_column": "series", "predicted_horizons": HORIZONS,
            "predictor": "ar1", "use_anti_naive_lock": True,
            "train_end": datagen.train_end()}


def replay_sql(config: dict, cutoff: str) -> str:
    """DuckDB replay of the pipeline's AR(1) per-(split, horizon) metrics
    from the generated CSVs: the same lead targets, per-series
    least-squares fit on rows whose target also lies before the cutoff,
    and MAE / naive MAE / R2."""
    parts = " UNION ALL ".join(
        f"SELECT '{s}' AS split, series, DATE_TIME AS ts, {datagen.TARGET} AS v "
        f"FROM read_csv('{config[f'x_{s}_file']}', header=true, "
        f"columns={{'DATE_TIME': 'TIMESTAMP', 'series': 'DOUBLE', "
        f"'{datagen.TARGET}': 'DOUBLE', 'OPEN': 'DOUBLE', 'HIGH': 'DOUBLE', "
        f"'LOW': 'DOUBLE', 'volume': 'DOUBLE', 'hour_sin': 'DOUBLE'}})"
        for s in ("train", "val", "test"))
    leads = ", ".join(f"lead(v, {h}) OVER w AS t{h}, lead(ts, {h}) OVER w AS s{h}"
                      for h in HORIZONS)
    fits = " UNION ALL ".join(
        f"SELECT {h} AS h, series, regr_slope(t{h}, v) AS a, "
        f"regr_intercept(t{h}, v) AS b FROM x "
        f"WHERE ts < TIMESTAMP '{cutoff}' AND s{h} < TIMESTAMP '{cutoff}' "
        f"GROUP BY series" for h in HORIZONS)
    hmax = max(HORIZONS)
    longs = " UNION ALL ".join(
        f"SELECT split, {h} AS h, x.series, v, t{h} AS t, "
        f"c.b + c.a * v AS p FROM kept x JOIN coef c "
        f"ON c.series = x.series AND c.h = {h}" for h in HORIZONS)
    return f"""
    WITH raw AS ({parts}),
    x AS (SELECT *, {leads} FROM raw
          WINDOW w AS (PARTITION BY series ORDER BY ts)),
    coef AS ({fits}),
    kept AS (SELECT * FROM x WHERE t{hmax} IS NOT NULL AND
             (ts >= TIMESTAMP '{cutoff}' OR s{hmax} < TIMESTAMP '{cutoff}')),
    l AS ({longs})
    SELECT split, h, count(*) AS n, avg(abs(p - t)) AS mae,
           avg(abs(v - t)) AS naive_mae,
           1.0 - sum((t - p) * (t - p)) / (count(*) * var_pop(t)) AS r2
    FROM l GROUP BY split, h
    """


def expected_results(config: dict) -> tuple[dict[str, float], int]:
    """Results-frame labels with their values, and the predictions row
    count, from the DuckDB replay."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(replay_sql(config, datagen.train_end())).fetchall()
    finally:
        con.close()
    out: dict[str, float] = {}
    n_pred = 0
    for split, h, n, mae, naive, r2 in rows:
        label = split.capitalize()
        out[f"{label} MAE H{h}"] = mae
        out[f"{label} Naive MAE H{h}"] = naive
        out[f"{label} R2 H{h}"] = r2
        if h == HORIZONS[0]:
            n_pred += n
    return out, n_pred


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


class ForecastE2E:
    """A round is the whole program in two ops: ``forecast`` reads the
    split family, runs the pipeline and writes the predictions and results
    CSVs; ``warehouse`` loads that round's results frame into the star
    schema. Splitting the round at the warehouse gives twice the samples
    per run, and the warehouse upsert's cost, which grows with the table,
    shows as an op of its own."""
    name = "forecast_e2e"
    #: reference seconds per round (both ops, warm JVM) on a 4-core x86 box
    round_s = 13.0

    def __init__(self, ctx: Ctx):
        from predictor_spark.sources.olap import StarSchemaWarehouse

        self.ctx = ctx
        fam = datagen.write_split_family(ctx.seed, os.path.join(ctx.work, "forecast_in"))
        self.family = fam["config"]
        self.out_dir = os.path.join(ctx.work, "forecast_out")
        self.wh_dir = os.path.join(ctx.work, "warehouse")
        self.wh = StarSchemaWarehouse(ctx.spark, self.wh_dir, backend="parquet")
        self._replay: tuple[dict[str, float], int] | None = None
        self.results = None
        self.keys: list[tuple[int, str]] = []
        ctx.info.update(input_rows=fam["rows"], input_bytes=fam["bytes"],
                        series=datagen.SERIES, horizons=HORIZONS)

    def warm(self) -> None:
        """Part of set-up: one untimed round, written to the same CSV
        directory and warehouse as the timed ones. In a fresh JVM the
        first forecast op takes about 16 s against 5-7 s for later ones,
        and the first warehouse op about 7 s against 5-6 s. The first
        timed round can still run up to 25 % slower than the second; a
        second untimed round would remove that, but costs more set-up than
        the benchmark's time budget leaves."""
        built = self.build(-1, "forecast")
        self.act(-1, "forecast", built)
        self.act(-1, "warehouse", self.build(-1, "warehouse"))

    def warm_workers(self, cores: int) -> None:
        """Nothing to do: the AR(1) program starts no Python workers."""

    def rounds(self, n: int) -> list[list[str]]:
        return [["forecast", "warehouse"]] * n

    def build(self, i: int, op: str):
        from predictor_spark.plans.pipeline import run_forecast_pipeline
        from predictor_spark.sources.csv_compat import load_split_family, stack_splits
        from predictor_spark.sources.sinks import predictions_frame

        if op == "warehouse":
            if self.results is None:
                raise RuntimeError("no results frame: the round's forecast op failed")
            return self.results
        self.results = None
        with self.ctx.tracer.span("sources.read", i):
            stacked = stack_splits(load_split_family(self.ctx.spark, self.family))
        out = run_forecast_pipeline(self.ctx.spark, stacked, forecast_config())
        preds = predictions_frame(out["predictions"], HORIZONS,
                                  baseline_col=datagen.TARGET)
        return preds, out["results"]

    def act(self, i: int, op: str, built):
        from predictor_spark.sources.sinks import write_csv

        tr = self.ctx.tracer
        key = f"op{i:03d}" if i >= 0 else "warmup"
        if op == "warehouse":
            with tr.span("sources.write", i):
                self.wh.load_results(built, project="perfbench", phase="forecast",
                                     experiment=key)
            if i >= 0:
                self.keys.append((i, key))
            return built, key
        preds, results = built
        base = os.path.join(self.out_dir, key)
        with tr.span("sources.write", i):
            write_csv(preds, os.path.join(base, "predictions"), order_by="DATE_TIME")
        with tr.span("sources.write", i):
            write_csv(results, os.path.join(base, "results"))
        self.results = results
        return results, base

    def replay(self) -> tuple[dict[str, float], int]:
        """The DuckDB replay, computed on first use, after the loop."""
        if self._replay is None:
            self._replay = expected_results(self.family)
        return self._replay

    def write_amp(self, since: float) -> float:
        """Warehouse bytes written since ``since`` (epoch seconds; files
        still present) over the bytes one op's new fact rows take in the
        fact table: the table's size times their share of its rows. 0
        after an op that wrote nothing to the warehouse."""
        import pyarrow.parquet as pq

        written = 0
        for base, _dirs, files in os.walk(self.wh_dir):
            for f in files:
                st = os.stat(os.path.join(base, f))
                if st.st_mtime >= since:
                    written += st.st_size
        if not written:
            return 0.0
        fact = os.path.join(self.wh_dir, "fact_performance")
        parts = [os.path.join(fact, f) for f in os.listdir(fact) if f.endswith(".parquet")]
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in parts)
        size = sum(os.path.getsize(f) for f in parts)
        new_rows = sum(lab.split(" ", 1)[0] in WAREHOUSE_LABELS
                       for lab in self.replay()[0])
        return written * rows / (size * new_rows)

    def _facts(self, key: str | None = None):
        import duckdb

        where = f"WHERE experiment_key = '{key}'" if key else ""
        con = duckdb.connect()
        try:
            return con.execute(
                f"SELECT experiment_key, split, metric, horizon, avg_value, "
                f"std_value, min_value, max_value FROM read_parquet("
                f"'{self.wh_dir}/fact_performance/*.parquet') {where}").fetchall()
        finally:
            con.close()

    def check(self, op: str, outcome) -> str | None:
        import glob

        import pandas as pd

        if op == "warehouse":
            return self._check_facts(outcome)
        base = outcome
        expected, n_pred = self.replay()
        res = pd.concat(pd.read_csv(f) for f in glob.glob(f"{base}/results/*.csv"))
        got = dict(zip(res["Metric"], res["Average"]))
        if set(got) != set(expected):
            return f"results labels {sorted(set(got) ^ set(expected))} differ"
        for label, want in expected.items():
            if not _close(got[label], want):
                return f"{label} = {got[label]!r}, replay {want!r}"
        n = sum(len(pd.read_csv(f)) for f in glob.glob(f"{base}/predictions/*.csv"))
        if n != n_pred:
            return f"{n} prediction rows, replay {n_pred}"
        return None

    def _check_facts(self, key: str) -> str | None:
        want = {lab: v for lab, v in self.replay()[0].items()
                if lab.split(" ", 1)[0] in WAREHOUSE_LABELS}
        facts = self._facts(key)
        got = {f"{s} {m} H{h}": (a, sd, lo, hi)
               for _, s, m, h, a, sd, lo, hi in facts}
        if len(facts) != len(want) or set(got) != set(want):
            return f"{len(facts)} warehouse facts, expected {len(want)}"
        for lab, v in want.items():
            a, sd, lo, hi = got[lab]
            if not (_close(a, v) and _close(lo, v) and _close(hi, v) and sd == 0.0):
                return f"warehouse {lab} = {a!r}, replay {v!r}"
        return None

    def finish(self) -> list[tuple[int, str]]:
        """Every warehouse op's facts must survive all later upserts."""
        out = []
        for i, key in self.keys:
            problem = self._check_facts(key)
            if problem:
                out.append((i, "after the run: " + problem))
        return out


WORKLOADS = {w.name: w for w in (CatalogSweep, ForecastE2E)}
