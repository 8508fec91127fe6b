"""The benchmark's workloads.

Each workload prepares its inputs from the seed (``prepare``, part of
set-up), computes the expected answers with the repository's oracles
(``expect``, outside timing and set-up), may run an untimed warm-up
(``warm_up``), then runs timed passes (``run_pass``) in a closed loop
with one caller. Every pass is one or more *operations*; each
operation is attempted once, and it fails when it raises or its output
disagrees with the oracle (:class:`Ledger`).

``install`` wraps the layer functions the workload calls, for the traced
run; ``layers`` turns the recorded spans into per-layer metrics.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

from perfbench import tables
from perfbench.trace import JobCosts, Tracer, span_costs, union_length

# bench.py's headline query set (the 18 queries its value sums).
HEADLINE = [
    "pricing_summary", "revenue_by_nation", "latest_event_per_user",
    "topk_events_per_user", "customers_no_orders", "dedup_exact",
    "minhash_sig", "lsh_candidates", "simhash", "ann_bruteforce",
    "text_stats", "embedding_neardup_lsh", "token_counts", "volume_shipping",
    "click_attribution", "similarity_pairs", "sequence_packing",
    "decontamination",
]
GRAPH = ["dedup_components"]
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
STATE_TABLES = ["docs_raw", "assets_raw", "frontier", "images", "html_raw"]
# Modules holding the engine's Python UDFs; the set-up's warm-up imports
# them in every Python worker.
UDF_MODULES = [
    "web_archive_downloader_spark.content.extract",
    "web_archive_downloader_spark.sources.fetch_shim",
    "web_archive_downloader_spark.operators.ann",
    "web_archive_downloader_spark.operators.packing",
    "web_archive_downloader_spark.operators.seen",
]
DOC_COLS = ("title", "dir", "filename", "markdown", "via", "ts")
ASSET_COLS = ("page_url", "asset_url", "kind", "dir", "filename", "nbytes")


class Mismatch(Exception):
    pass


class Ledger:
    """Counts attempted and failed operations. A failure is printed to
    standard error and never stops the run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def attempt(self, what: str, op, check=None):
        """Run ``op()`` timed; then ``check(result)`` untimed, which
        returns a problem description or None. Returns (seconds,
        result), or (None, None) when the operation failed."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            out = op()
            dt = time.perf_counter() - t0
            problem = check(out) if check is not None else None
            if problem:
                raise Mismatch(problem)
            return dt, out
        except Exception:
            self.failed += 1
            print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None, None


# Rounded floats may differ by one unit in the column's last rounded
# place: Spark rounds the shortest decimal form of a double half-up
# (0.78375 -> 0.7838) where DuckDB rounds the binary value (0.78374999...
# -> 0.7837), and the two engines add floats in different orders
# (4502836.935 +- 1 ulp -> .94 or .93). The place is read off the
# expected values: their most decimals, between 2 and 4 (4 is where the
# normalisation rounds; 2 bounds the tolerance for whole-number columns).


def normalize(rows: list[dict], cols: list[str]) -> list[tuple]:
    """The parity test's normalisation (floats to 4 dp, NaN as None),
    with rows sorted by their non-float values first, so a rounding
    difference cannot reorder them."""
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                v = None if math.isnan(v) else round(v, 4)
            vals.append(v)
        out.append(tuple(vals))

    def key(t):
        return (
            tuple(str(x) for x in t if not isinstance(x, float)),
            tuple(x for x in t if isinstance(x, float)),
        )

    return sorted(out, key=key)


def _decimals(x: float) -> int:
    text = repr(x)
    if "e" in text or "." not in text:
        return 4
    return len(text.split(".")[1].rstrip("0"))


def column_units(rows: list[tuple]) -> list[float]:
    """One unit in each column's last rounded place (see above)."""
    width = len(rows[0]) if rows else 0
    places = [2] * width
    for row in rows:
        for i, v in enumerate(row):
            if isinstance(v, float):
                places[i] = max(places[i], min(4, _decimals(v)))
    return [10.0 ** -p for p in places]


def _same(a: tuple, b: tuple, units: list[float]) -> bool:
    if len(a) != len(b):
        return False
    for x, y, unit in zip(a, b, units):
        if isinstance(x, float) and isinstance(y, float):
            if abs(x - y) > unit * (1 + 1e-6):
                return False
        elif x != y:
            return False
    return True


def compare_rows(got: list[dict], got_cols: list[str], expected: tuple[list[str], list[tuple]]) -> str | None:
    """None when ``got`` matches the expected (columns, normalised rows),
    else a description of the first difference."""
    exp_cols, exp_rows = expected
    cols = sorted(got_cols)
    if cols != exp_cols:
        return f"columns {cols} != {exp_cols}"
    rows = normalize(got, cols)
    if len(rows) != len(exp_rows):
        return f"{len(rows)} rows != {len(exp_rows)}"
    units = column_units(exp_rows)
    bad = next((i for i, (a, b) in enumerate(zip(rows, exp_rows)) if not _same(a, b, units)), None)
    return None if bad is None else f"row {bad}: {rows[bad]} != {exp_rows[bad]}"


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""
    why = ""
    # set-ups per run; setup_s is their median
    setups = 3

    def __init__(self) -> None:
        self.times: list[float] = []

    def prepare(self, b) -> None:
        pass

    def expect(self, b) -> None:
        pass

    def warm_up(self, b, ledger: Ledger) -> None:
        pass

    def run_pass(self, b, ledger: Ledger) -> None:
        raise NotImplementedError

    def pass_seconds(self) -> float:
        return _median(self.times)

    def install(self, tracer: Tracer) -> None:
        pass

    def layers(self, b, tracer: Tracer, jobs: dict[int, JobCosts], ledger: Ledger) -> dict[str, float]:
        return {}


# ------------------------------------------------------------------ crawl

class Crawl(Workload):
    """bench.py's multi-host crawl (seed -> epochs -> finalize), resumed
    from a checkpoint that holds every 8th CDX URL plus filler URLs, so
    the URL-seen set is ``CKPT_FACTOR`` times the CDX. With no retries
    every URL is scheduled in the first epoch, so a crawl is one epoch
    plus the bucketize after it."""

    name = "crawl"
    N_URLS = 200
    HOSTS = 64
    ZIPF = 0.7
    CKPT_FACTOR = 50
    MAX_RETRIES = 0
    BUCKETIZE_EVERY = 1

    def config(self):
        from web_archive_downloader_spark.datagen import default_config

        return default_config(
            epoch_seconds=180.0, target_domain="", max_retries=self.MAX_RETRIES,
            bucketize_seen_every_epochs=self.BUCKETIZE_EVERY,
        )

    def prepare(self, b) -> None:
        from pyspark.sql import functions as F

        from web_archive_downloader_spark.datagen import gen_cdx_multihost
        from web_archive_downloader_spark.plans.crawl import CrawlPlan
        from web_archive_downloader_spark.sources.state import StateStore

        spark = b.spark
        self.cfg = self.config()
        self.raw = gen_cdx_multihost(self.N_URLS, self.HOSTS, seed=b.seed, zipf=self.ZIPF)
        self.pre = sorted({r[0] for r in self.raw[::8]})
        self.n_filler = self.CKPT_FACTOR * self.N_URLS - len(self.pre)
        self.seeded = b.path("store.seeded")
        shutil.rmtree(self.seeded, ignore_errors=True)
        filler = spark.range(self.n_filler).select(
            F.concat(F.lit(f"https://ckpt.example.net/s{b.seed}/u"), F.col("id").cast("string")).alias("url")
        )
        checkpoint = spark.createDataFrame([(u,) for u in self.pre], "url string").unionByName(filler)
        t0 = time.perf_counter()
        CrawlPlan(spark, StateStore(self.seeded, spark), self.cfg).seed_checkpoint(checkpoint)
        b.setup_parts.setdefault("seen.seed_checkpoint_s", []).append(time.perf_counter() - t0)

    def expect(self, b) -> None:
        from web_archive_downloader_spark.oracle.simulator import run_oracle

        oracle = run_oracle(self.raw, self.cfg, checkpoint=set(self.pre))
        self.order = oracle.crawl_order
        self.seen = oracle.seen_set | set(self.pre)
        self.docs = {d["url"]: tuple(d[k] for k in DOC_COLS) for d in oracle.docs}
        self.assets = sorted(tuple(a[k] for k in ASSET_COLS) for a in oracle.assets)
        self.passes: list[dict] = []

    def run_pass(self, b, ledger: Ledger) -> None:
        from pyspark.sql import functions as F

        from web_archive_downloader_spark.plans.crawl import PROCESSED_SCHEMA, URL_SEEN_SCHEMA, CrawlPlan
        from web_archive_downloader_spark.sources.cdx import cdx_dataframe
        from web_archive_downloader_spark.sources.state import StateStore

        spark = b.spark
        self.root = b.path(f"store-{len(self.times)}-{ledger.attempted}")
        _clone_store(self.seeded, self.root)
        store = StateStore(self.root, spark)
        plan = CrawlPlan(spark, store, self.cfg)
        info: dict = {}

        def crawl():
            stats = plan.run(cdx_dataframe(spark, self.raw))
            docs, assets = plan.finalize_outputs()
            return stats, docs.collect(), assets.filter("filename is not null").collect()

        def check(out):
            stats, docs, assets = out
            info.update(epochs=stats.epochs, scheduled=stats.scheduled)
            if {r.url: tuple(r[k] for k in DOC_COLS) for r in docs} != self.docs:
                return "docs differ from the oracle"
            if sorted(tuple(r[k] for k in ASSET_COLS) for r in assets) != self.assets:
                return "assets differ from the oracle"
            order = [r.url for r in store.read("processed", PROCESSED_SCHEMA).orderBy("seq").collect()]
            if order != self.order:
                return f"crawl order differs from the oracle ({len(order)} vs {len(self.order)} urls)"
            seen = store.read("url_seen", URL_SEEN_SCHEMA)
            filler = seen.filter(F.col("url").startswith("https://ckpt.example.net/"))
            got = {r.url for r in seen.subtract(filler).collect()}
            if got != self.seen or filler.count() != self.n_filler:
                return f"url-seen set differs from the oracle ({len(got)} vs {len(self.seen)} urls)"
            return None

        dt, _ = ledger.attempt(f"{self.name} crawl", crawl, check)
        b.log(f"crawl {dt} {info}")
        if dt is not None:
            self.times.append(dt)
            if b.trace:
                info.update(self._state_facts(b, store))
            self.passes.append(info)
        leaked = self._destroy(b, store)
        ledger.attempt(f"{self.name} store cleanup", lambda: leaked, lambda left: left or None)

    def _state_facts(self, b, store) -> dict:
        from web_archive_downloader_spark.plans.crawl import METRICS_SCHEMA

        manifest = store.read_manifest()
        gens = manifest.get("bucketed", {}).get("url_seen", [])
        gens = [gens] if isinstance(gens, dict) else gens
        files = sum(len(fs) for _, _, fs in os.walk(self.root))
        nbytes = dir_bytes(self.root)
        for g in gens:
            loc = b.spark.sql(f"DESCRIBE TABLE EXTENDED {g['name']}").filter("col_name = 'Location'").collect()
            if loc:
                path = loc[0].data_type.replace("file:", "")
                nbytes += dir_bytes(path)
                files += sum(len(fs) for _, _, fs in os.walk(path))
        m = {r.metric: r.value for r in store.read("metrics", METRICS_SCHEMA)
             .groupBy("metric").sum("value").withColumnRenamed("sum(value)", "value").collect()}
        ok = m.get("extract_ok", 0)
        return {
            "bytes": nbytes, "files": files, "generations": len(gens),
            "sketch_rows": store.read("bloom").count(),
            "fetch_ok_ratio": m.get("fetched_ok", 0) / max(1, m.get("fetched_total", 0)),
            "extract_ok_ratio": ok / max(1, ok + m.get("extract_fail", 0)),
        }

    def _destroy(self, b, store) -> str | None:
        """StateStore.destroy, then check that no store file and no
        catalog table is left."""
        store.destroy()
        left = [t.name for t in b.spark.catalog.listTables() if t.name.startswith(f"wad_{store._ident}")]
        if os.path.exists(self.root):
            left.append(self.root)
        return f"left behind: {left}" if left else None

    def install(self, tracer: Tracer) -> None:
        from web_archive_downloader_spark.plans.crawl import CrawlPlan
        from web_archive_downloader_spark.sources.state import StateStore

        for attr in ("run_epoch", "finalize_outputs"):
            tracer.install(CrawlPlan, attr, f"crawl.{attr}")
        tracer.install(StateStore, "stage", "state.stage.", label=lambda a, k: a[1])
        for attr in ("stage_packed", "commit", "bucketize", "compact"):
            tracer.install(StateStore, attr, f"state.{attr}")
        from pyspark.sql.classic.dataframe import DataFrame

        tracer.install(DataFrame, "count", "df.count")
        self.bloom_modes: list[str | None] = []
        wrapped = CrawlPlan.run_epoch

        def run_epoch(plan, epoch):
            out = wrapped(plan, epoch)
            self.bloom_modes.append(plan.last_bloom_mode)
            return out

        tracer._undo.append((CrawlPlan, "run_epoch", wrapped))
        CrawlPlan.run_epoch = run_epoch

    def layers(self, b, tracer: Tracer, jobs: dict[int, JobCosts], ledger: Ledger) -> dict[str, float]:
        epochs = tracer.named("crawl.run_epoch")
        out: dict[str, float] = {}
        sched_counts = [sum(c.dur for c in tracer.children(e) if c.name == "df.count") for e in epochs]
        costs = [span_costs(e, jobs) for e in epochs]
        out["crawl.epoch_p50_s"] = _median([e.dur for e in epochs])
        out["crawl.epoch_self_s"] = _median([tracer.self_time(e, "state.") for e in epochs])
        out["crawl.schedule_count_s"] = _median(sched_counts)
        out["crawl.jobs_per_epoch"] = _median([e.job1 - e.job0 for e in epochs])
        out["crawl.stages_per_epoch"] = _median([c.stages for c in costs])
        out["crawl.tasks_per_epoch"] = _median([c.tasks for c in costs])
        out["crawl.finalize_s"] = _median([s.dur for s in tracer.named("crawl.finalize_outputs")])
        passes = self.passes
        n_pass = max(1, len(passes))
        out["crawl.epochs"] = passes[-1]["epochs"] if passes else 0
        out["crawl.scheduled"] = passes[-1]["scheduled"] if passes else 0
        out["crawl.urls_per_s"] = out["crawl.scheduled"] / self.pass_seconds() if self.times else 0.0
        for t in STATE_TABLES:
            out[f"state.stage_s.{t}"] = sum(s.dur for s in tracer.named(f"state.stage.{t}")) / n_pass
        for attr in ("stage_packed", "commit", "bucketize", "compact"):
            out[f"state.{attr}_s"] = sum(s.dur for s in tracer.named(f"state.{attr}")) / n_pass
        sib = []
        for e in epochs:
            writes = [c for c in tracer.children(e)
                      if c.name == "state.stage_packed" or c.name in ("state.stage.frontier", "state.stage.images", "state.stage.html_raw")]
            sib.append(union_length([(c.start, c.end) for c in writes]))
        out["state.sibling_wall_s"] = _median(sib)
        if passes and "bytes" in passes[-1]:
            last = passes[-1]
            out["state.bytes_per_url"] = last["bytes"] / max(1, last["scheduled"])
            out["state.files"] = last["files"]
            out["state.seen_generations"] = last["generations"]
            out["fetch.ok_ratio"] = last["fetch_ok_ratio"]
            out["extract.ok_ratio"] = last["extract_ok_ratio"]
            out["seen.sketch_rows"] = last["sketch_rows"]
        for mode in ("broadcast", "cogroup", "exact"):
            out[f"seen.bloom_mode.{mode}"] = self.bloom_modes.count(mode) / n_pass
        out["seen.seed_checkpoint_s"] = _median(b.setup_parts.get("seen.seed_checkpoint_s", []))
        b.start_session()
        out.update(ExtractStage().measure(b, ledger))
        return out


def _clone_store(src: str, dst: str) -> None:
    """Copy a state store; its manifest names its directories by
    absolute path, so they are rewritten to the copy's."""
    shutil.copytree(src, dst)
    manifest = os.path.join(dst, "_manifest.json")
    with open(manifest) as f:
        text = f.read()
    with open(manifest, "w") as f:
        f.write(text.replace(json.dumps(src)[1:-1] + "/", json.dumps(dst)[1:-1] + "/"))


# ---------------------------------------------------------------- extract

class ExtractStage:
    """bench.py's scaling job, measured at the end of the crawl's traced
    run: rich ~30 KB pages in parquet -> ``extract_stage`` -> noop sink,
    once at ``local[1]`` and once at ``local[4]``, each in a fresh
    session. Nearly all its work is the Python UDF layer
    (``content.extract`` called from ``sources.fetch_shim``)."""

    N_PAGES = 800
    SAMPLE = 48

    def materialize(self, b) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        self.path = b.path("pages")
        urls = b.spark.range(self.N_PAGES).select(
            F.concat(
                F.lit("https://host"), F.lpad((F.col("id") % 64).cast("string"), 3, "0"),
                F.lit(f".example.org/s{b.seed}/item-"), F.col("id").cast("string"),
            ).alias("url"),
            F.lit("20230101000000").alias("ts"),
            F.col("id").alias("seq"),
        )
        schema = T.StructType([
            T.StructField("url", T.StringType()), T.StructField("ts", T.StringType()),
            T.StructField("seq", T.LongType()), T.StructField("html", T.StringType()),
        ])
        urls.repartition(4 * b.cores).mapInPandas(_rich_pages, schema).write.parquet(self.path)

    def _stage(self, spark, pages_filter: str | None = None):
        from pyspark.sql import functions as F

        from web_archive_downloader_spark.datagen import default_config
        from web_archive_downloader_spark.functions.textstats import char_poly_hash_col
        from web_archive_downloader_spark.sources.fetch_shim import extract_stage

        pages = spark.read.parquet(self.path)
        if pages_filter:
            pages = pages.filter(pages_filter)
        return extract_stage(pages, default_config(target_domain="")).filter(F.col("md_ok")).select(
            "url", "title", char_poly_hash_col(F.col("title")).alias("fp")
        )

    def kernel_seconds_per_page(self, sample: list[tuple[str, str]]) -> float:
        """The per-page ``content.extract`` calls ``extract_stage`` makes,
        in this process, on the page sample."""
        from web_archive_downloader_spark.content.extract import (
            _parse, extract_title_from_soup, find_main_content, html_to_markdown,
        )
        from web_archive_downloader_spark.datagen import default_config

        selectors = tuple(default_config(target_domain="").content_selectors)
        t0 = time.perf_counter()
        for url, html in sample:
            soup = _parse(html)
            extract_title_from_soup(soup, url)
            content = find_main_content(soup, selectors)
            html_to_markdown(str(content) if content is not None else None)
        return (time.perf_counter() - t0) / len(sample)

    def measure(self, b, ledger: Ledger) -> dict[str, float]:
        from web_archive_downloader_spark.content.extract import _parse, extract_title_from_soup

        self.materialize(b)
        rows = b.spark.read.parquet(self.path).filter(f"seq < {self.SAMPLE}").collect()
        sample = [(r.url, r.html) for r in rows]
        titles = {u: extract_title_from_soup(_parse(h), u) for u, h in sample}
        ledger.attempt(
            "extract title check",
            lambda: self._stage(b.spark, f"seq < {self.SAMPLE}").collect(),
            lambda got: None if {r.url: r.title for r in got} == titles else "titles differ from the extract kernel",
        )
        kernel = self.kernel_seconds_per_page(sample)
        n = b.cores
        seconds = {}
        for cores in (1, n):
            b.start_session(cores=cores)
            b.warm()
            dt, _ = ledger.attempt(
                f"extract at local[{cores}]",
                lambda: self._stage(b.spark).write.format("noop").mode("overwrite").save(),
            )
            seconds[cores] = dt
        stage = seconds[n]
        if not stage or not seconds[1]:
            return {}
        return {
            "extract.stage_s": stage,
            "extract.kernel_ms_per_page": kernel * 1000.0,
            "extract.udf_overhead_share": 1.0 - self.N_PAGES * kernel / (stage * n),
            "extract.scaling_eff_1_4": seconds[1] / (n * stage),
        }


def import_udf_modules(batches):
    import importlib

    for name in UDF_MODULES:
        importlib.import_module(name)
    yield from batches


def _rich_pages(batches):
    from web_archive_downloader_spark.datagen import page_html_rich

    for pdf in batches:
        pdf = pdf.copy()
        pdf["html"] = [page_html_rich(u) for u in pdf["url"]]
        yield pdf


# ---------------------------------------------------------------- queries

def duckdb_expected(table_dir: str, names: list[str]) -> dict[str, tuple[list[str], list[tuple]]]:
    """Normalised rows of each query's ``oracle_sql()`` twin on DuckDB."""
    import duckdb

    import __spark_entry__ as entry_mod

    sql = entry_mod.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
        out = {}
        for name in names:
            df = con.execute(sql[name]).fetchdf()
            cols = sorted(df.columns.tolist())
            out[name] = (cols, normalize(df.to_dict("records"), cols))
        return out
    finally:
        con.close()


def run_checked_query(b, ledger: Ledger, name: str, table_dir: str, expected) -> tuple[float | None, int]:
    """Clear Spark's cache, run one ``__spark_entry__`` query, collect
    its rows (timed) and compare them with ``expected`` (untimed).
    Returns (seconds or None, length of the executed plan)."""
    import __spark_entry__ as entry_mod

    b.spark.catalog.clearCache()
    plan_lines = 0

    def op():
        nonlocal plan_lines
        with b.span(f"query.{name}"):
            df = entry_mod.queries()[name](b.spark, table_dir)
            rows = [r.asDict() for r in df.collect()]
        plan_lines = df._jdf.queryExecution().executedPlan().toString().count("\n") + 1
        return df.columns, rows

    dt, _ = ledger.attempt(f"query {name}", op, lambda out: compare_rows(out[1], out[0], expected))
    b.log(f"{name} {dt}")
    return dt, plan_lines


class Queries(Workload):
    """bench.py's 18 headline queries, each a checked ``__spark_entry__``
    query over seeded tables of the ~sf0.01 size (``tables``). One
    untimed warm-up pass runs them all first. Every invocation starts
    with Spark's cache empty and collects its rows, which are compared
    with the query's ``oracle_sql()`` twin on DuckDB."""

    name = "queries"
    # Restarting the session took 0.1-0.4 s or ~1.1 s, one or the other,
    # in a ~3 s set-up; with five set-ups one slow restart does not
    # move the median.
    setups = 5

    def prepare(self, b) -> None:
        self.dir = b.path("tables")
        shutil.rmtree(self.dir, ignore_errors=True)
        tables.generate(self.dir, b.seed)

    def expect(self, b) -> None:
        self.expected = duckdb_expected(self.dir, HEADLINE)
        self.per_query: dict[str, list[float]] = {n: [] for n in HEADLINE}
        self.leaked: list[int] = []

    def pass_seconds(self) -> float:
        """Sum of the queries' median times. A query that failed in every
        pass adds nothing, so with ``correct`` false this is meaningless."""
        return sum(_median(v) for v in self.per_query.values())

    def warm_up(self, b, ledger: Ledger) -> None:
        for name in HEADLINE:
            run_checked_query(b, ledger, name, self.dir, self.expected[name])

    def run_pass(self, b, ledger: Ledger) -> None:
        persistent = b.spark.sparkContext._jsc.sc().getPersistentRDDs
        this_pass = 0.0
        for name in HEADLINE:
            dt, _ = run_checked_query(b, ledger, name, self.dir, self.expected[name])
            if dt is not None:
                self.per_query[name].append(dt)
                this_pass += dt
            self.leaked.append(persistent().size())
        self.times.append(this_pass)

    def layers(self, b, tracer: Tracer, jobs: dict[int, JobCosts], ledger: Ledger) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in HEADLINE:
            spans = tracer.named(f"query.{name}")
            costs = [span_costs(s, jobs) for s in spans]
            out[f"query.{name}.s"] = _median(self.per_query[name])
            out[f"query.{name}.jobs"] = _median([s.job1 - s.job0 for s in spans])
            out[f"query.{name}.shuffle_mb"] = _median([(c.shuffle_read + c.shuffle_write) / 1e6 for c in costs])
        passes = max(1, len(self.times))
        out["query.spill_mb"] = sum(span_costs(s, jobs).spill for s in tracer.named("query.")) / 1e6 / passes
        out["query.persisted_rdds_leaked"] = max(self.leaked, default=0)
        b.start_session()
        out.update(DedupGraph().measure(b, ledger))
        return out


class DedupGraph:
    """``dedup_components`` (``operators.dedup.connected_components``),
    measured at the end of the queries' traced run, once, in a fresh
    session, on its own documents: 300 drawn from a 2,000-word
    vocabulary, so near-duplicate chains of at most 3 copies are the
    graph's only edges and every seed gives the same number of
    label-propagation rounds. (On the fixtures' 31-word vocabulary nearly
    every document is a near-duplicate of every other, and the round
    count depends on the draw.)"""

    TABLE_ARGS = {"n_docs": 300, "vocab_size": 2000, "dup_share": 0.2}

    def measure(self, b, ledger: Ledger) -> dict[str, float]:
        from perfbench.trace import next_job_id

        d = b.path("graph_tables")
        tables.generate(d, b.seed, **self.TABLE_ARGS)
        out = {}
        for name, expected in duckdb_expected(d, GRAPH).items():
            j0 = next_job_id(b.spark.sparkContext)
            dt, plan_lines = run_checked_query(b, ledger, name, d, expected)
            if dt is not None:
                out[f"graph.{name}.s"] = dt
                out[f"graph.{name}.jobs"] = next_job_id(b.spark.sparkContext) - j0
                out[f"graph.{name}.plan_lines"] = plan_lines
        return out


WORKLOADS = {w.name: w for w in (Crawl, Queries)}
