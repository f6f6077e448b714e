"""The three workloads: what each runs, why, on which inputs, and how each
operation's output is checked.

All three are closed loops with one client: an operation starts when the
previous one has returned and its result has been fully fetched. A
workload is a sequence of passes; a pass lists every operation of the
workload once.
"""

from __future__ import annotations

import json
import os
import random
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from perfbench import datagen
from perfbench.checks import References, digest

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Op:
    """One timed operation.

    A ``query`` op builds a DataFrame (``build``) that the harness then
    fetches with Arrow ``toPandas``; every other kind is one ``call`` that
    does its whole work before returning. ``check`` gets the op's result
    after the clock has stopped and returns None or the reason it is
    wrong.
    """

    name: str
    kind: str  # query | admit | load | stream
    check: Callable[[Any, Any], str | None]
    build: Callable[[Any], Any] | None = None
    call: Callable[[Any], Any] | None = None


@dataclass
class Ctx:
    """What operations see: the session, the inputs and per-pass state."""

    spark: Any
    sf_dir: str
    work: str
    seed: int
    scale: float = 1.0
    inputs: dict = field(default_factory=dict)
    refs: References | None = None
    expected: dict = field(default_factory=dict)
    pass_dir: str = ""
    state: dict = field(default_factory=dict)


def _nothing(*_args) -> dict:
    return {}


@dataclass
class Workload:
    name: str
    why: str
    sizes: str
    tables: tuple[str, ...]
    warmup: tuple[str, ...]
    prepare: Callable[[Ctx], None]
    pass_ops: Callable[[Ctx, random.Random], list[Op]]
    #: (ctx, harness.Result) -> metrics of this workload's own kinds of op.
    own_metrics: Callable[[Ctx, Any], dict] = _nothing
    #: (ctx, pass dir) -> per-layer metrics read from what a pass stored.
    stored: Callable[[Ctx, str], dict] = _nothing


# -- console_mix ----------------------------------------------------------

#: bench.py entry labels of the QuestDB query surface.
CONSOLE_ENTRIES = (
    "dq20_pricing_summary", "dq10_join_revenue", "dq30_window_rank",
    "dq25_hourly_bucket", "dq34_topk", "asof_join", "splice_join",
    "latest_on", "sample_by_fill", "sessionize", "ema", "haversine",
    "geohash_cells", "exact_quantile", "tdigest", "topk_threshold_prune",
    "topk_per_key_prune", "dialect_topk_routed",
)
#: Registry queries that go through ``sql.dialect.questdb_sql`` and have
#: no bench.py entry (q183 is ``dialect_topk_routed`` above).
CONSOLE_DIALECT = (
    "q135_dialect_latest_on", "q136_dialect_sample_by",
    "q137_dialect_latest_on_filtered", "q152_dialect_sample_by_from_to",
    "q154_dialect_long_sequence", "q156_interval_repeat",
    "q158_sample_by_offset", "q186_dialect_time_scalars",
    "q187_subsecond_sample_by", "q188_dialect_ksum_nsum",
)


def _entry_callables() -> dict[str, Callable]:
    """bench.py's entry map with registry keys resolved to callables."""
    import bench
    from questdb_etl_jobs_spark.queries import spark_queries

    registry = spark_queries()
    out = {}
    for label, key in bench._headline().items():
        out[label] = registry[key] if isinstance(key, str) else key
    for key in CONSOLE_DIALECT:
        out[key] = registry[key]
    return out


def _oracle_sql(label: str, sf_dir: str) -> tuple[str, bool]:
    """The DuckDB twin of a console entry: the registry oracle, or
    ``tools/sf1_differential.DUCK_SQL`` for the plain-double DQ variants,
    which match only up to float summation order."""
    import bench
    from questdb_etl_jobs_spark.queries import REGISTRY
    from tools.sf1_differential import DUCK_SQL

    key = bench._headline().get(label, label)
    if not isinstance(key, str):
        return DUCK_SQL[label], True
    oracle = REGISTRY[key].oracle
    if callable(oracle):
        oracle = oracle(sf_dir) if getattr(oracle, "sf_parametric", False) else oracle()
    return oracle, False


def _console_prepare(ctx: Ctx) -> None:
    ctx.state["fns"] = _entry_callables()  # also loads the registry
    ctx.refs = References(ctx.sf_dir)
    names = CONSOLE_ENTRIES + CONSOLE_DIALECT
    ctx.refs.ensure({n: _oracle_sql(n, ctx.sf_dir) for n in names})


def _console_ops(ctx: Ctx, rnd: random.Random) -> list[Op]:
    fns = ctx.state["fns"]
    names = list(CONSOLE_ENTRIES + CONSOLE_DIALECT)
    rnd.shuffle(names)

    def op(name):
        return Op(
            name, "query",
            build=lambda c: fns[name](c.spark, c.sf_dir),
            check=lambda c, res: c.refs.check(name, *res),
        )

    return [op(n) for n in names]


CONSOLE_MIX = Workload(
    name="console_mix",
    why=(
        "QuestDB-console analytics at sf0.1: each query is bound by its fixed "
        "cost (py4j plan building, Catalyst, job scheduling, Arrow fetch)"
    ),
    sizes=(
        "sf0.1 tables (lineitem 600,000, orders 150,000, events 100,000 rows); "
        "28 queries per pass in a seeded shuffled order"
    ),
    tables=("lineitem", "orders", "customer", "nation", "events"),
    warmup=("dq20_pricing_summary", "q135_dialect_latest_on", "dq34_topk"),
    prepare=_console_prepare,
    pass_ops=_console_ops,
)


# -- llm_curation ---------------------------------------------------------

#: bench.py entry labels, in pipeline order.
CURATION_ENTRIES = (
    "exact_dedup", "near_dup_lsh", "dup_clusters",
    "text_quality", "lang_id", "repetition",
    "decontaminate", "tfidf",
    "token_chunks", "budget_mix", "seq_packing",
    "cosine_topk",
    "kmeans_pll_init", "kmeans_fit",
)

EXPECTED_PATH = os.path.join(HERE, "expected.json")


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        expected = json.load(fh)
    if expected["tables_version"] != datagen.TABLES_VERSION:
        raise RuntimeError(
            f"{EXPECTED_PATH} was recorded for tables v{expected['tables_version']}, "
            f"the generator is v{datagen.TABLES_VERSION}; re-run perfbench/record.py"
        )
    return expected["values"]


def admit_batches(spark, sf_dir):
    """bench.py's dedup_stream inputs: every third document, then the same
    documents with their first word dropped (mostly near-duplicates)."""
    from questdb_etl_jobs_spark.sources.tables import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter("doc_id % 3 = 0")
        .select("doc_id", "text")
    )
    mutations = docs.selectExpr(
        "doc_id + 100000 AS doc_id",
        "substring(text, locate(' ', text) + 1) AS text",
    )
    return {"admit_corpus": docs, "admit_mutations": mutations}


def _admit(name: str):
    def call(c: Ctx):
        from questdb_etl_jobs_spark.streaming.dedup_stream import admit_batch

        batch = admit_batches(c.spark, c.sf_dir)[name]
        admit_batch(c.spark, batch, f"{c.pass_dir}/corpus", f"{c.pass_dir}/index")

    return call


def admitted(c: Ctx, _res) -> int:
    """Documents in the admitted corpus so far."""
    return c.spark.read.parquet(f"{c.pass_dir}/corpus").count()


def _recorded(name: str, observe: Callable[[Ctx, Any], Any]):
    def check(c: Ctx, res) -> str | None:
        want = c.expected.get(name)
        if want is None:
            return f"no recorded value for {name}"
        got = observe(c, res)
        return None if got == want else f"{got} != recorded {want}"

    return check


def result_digest(_c: Ctx, res) -> str:
    return digest(*res)


def _curation_prepare(ctx: Ctx) -> None:
    ctx.expected = load_expected()
    ctx.state["fns"] = _entry_callables()


def _curation_ops(ctx: Ctx, rnd: random.Random) -> list[Op]:
    fns = ctx.state["fns"]

    def query(name):
        return Op(name, "query", build=lambda c: fns[name](c.spark, c.sf_dir),
                  check=_recorded(name, result_digest))

    ops = [query(n) for n in CURATION_ENTRIES]
    ops += [Op(n, "admit", call=_admit(n), check=_recorded(n, admitted))
            for n in ("admit_corpus", "admit_mutations")]
    return ops


def _curation_metrics(ctx: Ctx, res) -> dict:
    from perfbench.harness import median

    return {
        "curation_pass_s": (median(res.passes), "s"),
        "admit_batch_s": (median(res.latency["admit"]), "s"),
    }


LLM_CURATION = Workload(
    name="llm_curation",
    why=(
        "LLM-data curation: operators that launch tens of jobs per call, "
        "iterate to convergence and run Python Arrow workers"
    ),
    sizes=(
        "documents 5,000 and embeddings 2,000 x 64 rows (sf0.1); 14 pipeline "
        "steps, then admit_batch on 1,667 documents and on their 1,667 mutations"
    ),
    tables=("documents", "embeddings"),
    warmup=("exact_dedup", "token_chunks"),
    prepare=_curation_prepare,
    pass_ops=_curation_ops,
    own_metrics=_curation_metrics,
)


# -- hourly_ingest --------------------------------------------------------

HOURLY_FILES = 4
HOURLY_ROWS = 120_000
TABLE = "purchases"
DESIGNATED = {TABLE: "purchase_date"}


def _event(f: dict) -> dict:
    """The storage event of one uploaded export (reference
    cloud_function.py:36 keys)."""
    return {"bucket": "exports", "contentType": "text/csv", "name": f["path"],
            "size": str(f["bytes"])}


def _count_or_zero(spark, fmt: str, path: str) -> int:
    """Rows under ``path``; zero only when nothing was ever written there."""
    if not os.path.exists(path):
        return 0
    return spark.read.format(fmt).load(path).count()


def _load(i: int):
    def call(c: Ctx):
        from questdb_etl_jobs_spark.pipeline import run_batch

        f = c.inputs["files"][i]
        return run_batch(
            c.spark, _event(f), table_path=f"{c.pass_dir}/table",
            quarantine_path=f"{c.pass_dir}/quarantine",
        )

    def check(c: Ctx, result) -> str | None:
        files = c.inputs["files"][: i + 1]
        f = files[-1]
        if result is None:
            return "gates rejected a valid event"
        if (result.rows_loaded, result.rows_quarantined) != (f["good"], f["bad"]):
            return (f"loaded/quarantined {result.rows_loaded}/{result.rows_quarantined}"
                    f" != {f['good']}/{f['bad']}")
        table = _count_or_zero(c.spark, "parquet", f"{c.pass_dir}/table")
        bad = _count_or_zero(c.spark, "json", f"{c.pass_dir}/quarantine")
        want = (sum(x["good"] for x in files), sum(x["bad"] for x in files))
        if (table, bad) != want:
            return f"table/quarantine rows {table}/{bad} != {want[0]}/{want[1]}"
        return None

    return call, check


#: One QuestDB-dialect read after each load, in rotation.
READS = ("sample_by", "latest_on", "hour_in")


def _read(i: int):
    kind = READS[i % len(READS)]

    def build(c: Ctx):
        from questdb_etl_jobs_spark.plans.designated import read_designated_ts
        from questdb_etl_jobs_spark.sql import questdb_sql

        hour = c.inputs["files"][i]["hour"]
        read_designated_ts(c.spark, f"{c.pass_dir}/table", "purchase_date") \
            .createOrReplaceTempView(TABLE)
        sql = {
            "sample_by": f"SELECT purchase_date, count(*) n, sum(price) s FROM {TABLE} SAMPLE BY 1h",
            "latest_on": f"SELECT * FROM {TABLE} LATEST ON purchase_date PARTITION BY buyer",
            "hour_in": f"SELECT count(*) n, sum(price) s FROM {TABLE} WHERE purchase_date IN '{hour}'",
        }[kind]
        return questdb_sql(c.spark, sql, DESIGNATED)

    def check(c: Ctx, res) -> str | None:
        cols, rows = res
        files = c.inputs["files"][: i + 1]
        if kind == "latest_on":
            want = files[-1]["buyers_so_far"]
            return None if len(rows) == want else f"{len(rows)} latest rows != {want} buyers"
        by_hour = {f["hour"]: (f["good"], f["price_sum"]) for f in files}
        if kind == "hour_in":
            got = tuple(rows[0])
            want = by_hour[files[-1]["hour"]]
            hour = files[-1]["hour"]
            return None if got == want else f"hour {hour}: n,sum {got} != {want}"
        got = {r[0].strftime("%Y-%m-%dT%H"): (r[1], r[2]) for r in rows}
        return None if got == by_hour else f"SAMPLE BY 1h {got} != {by_hour}"

    return build, check


def _stream(sink: str):
    def call(c: Ctx):
        from questdb_etl_jobs_spark.streaming.file_stream import run_stream_to_table

        d = c.pass_dir
        good_q, bad_q = run_stream_to_table(
            c.spark, c.inputs["dir"], f"{d}/stream_table", f"{d}/stream_quarantine",
            f"{d}/checkpoint_{sink}", dedup=(sink == "append"), sink=sink,
        )
        good_q.awaitTermination()
        bad_q.awaitTermination()
        return good_q, bad_q

    def check(c: Ctx, queries) -> str | None:
        for q in queries:
            if q.exception() is not None:
                return f"stream failed: {q.exception()}"
        d = c.pass_dir
        rows = _count_or_zero(c.spark, "parquet", f"{d}/stream_table")
        bad = _count_or_zero(c.spark, "json", f"{d}/stream_quarantine")
        # The upsert pass redelivers every file with a fresh checkpoint: the
        # table must merge into itself, while the quarantine (an
        # at-least-once sink) receives the bad rows a second time.
        deliveries = 1 if sink == "append" else 2
        want = (c.inputs["distinct_good"], deliveries * c.inputs["bad"])
        if (rows, bad) != want:
            return f"{sink}: table/quarantine rows {rows}/{bad} != {want[0]}/{want[1]}"
        return None

    return call, check


def _hourly_prepare(ctx: Ctx) -> None:
    ctx.inputs = datagen.write_hourly_exports(
        f"{ctx.work}/exports", ctx.seed, HOURLY_FILES,
        max(100, int(HOURLY_ROWS * ctx.scale)),
    )
    ctx.inputs["dir"] = f"{ctx.work}/exports"


def _hourly_ops(ctx: Ctx, rnd: random.Random) -> list[Op]:
    ops = []
    for i in range(len(ctx.inputs["files"])):
        call, check = _load(i)
        ops.append(Op(f"load_{i}", "load", call=call, check=check))
        build, check = _read(i)
        ops.append(Op(f"read_{READS[i % len(READS)]}_{i}", "query", build=build, check=check))
    for sink in ("append", "upsert"):
        call, check = _stream(sink)
        ops.append(Op(f"stream_{sink}", "stream", call=call, check=check))
    return ops


def _hourly_metrics(ctx: Ctx, res) -> dict:
    from perfbench.harness import median

    files = ctx.inputs["files"]
    rows = sum(len(res.by_op[f"load_{i}"]) * (f["good"] + f["bad"]) for i, f in enumerate(files))
    load_s = sum(res.latency["load"])
    streams = res.latency["stream"]
    return {
        "load_rows_per_s": (rows / load_s if load_s else 0.0, "rows/s"),
        "load_batch_p50_s": (median(res.latency["load"]), "s"),
        "read_after_load_p50_s": (median(res.latency["query"]), "s"),
        "stream_rows_per_s": (
            len(streams) * ctx.inputs["rows"] / sum(streams) if streams else 0.0, "rows/s"),
    }


def _hourly_stored(ctx: Ctx, pass_dir: str) -> dict:
    """Files and size of the designated-ts table the loads built."""
    table = os.path.join(pass_dir, "table")
    parts = [os.path.join(d, f) for d, _, fs in os.walk(table)
             for f in fs if f.endswith(".parquet")]
    return {
        "plans.designated.files": len(parts),
        "plans.designated.bytes_per_input_byte":
            sum(os.path.getsize(p) for p in parts) / ctx.inputs["bytes"],
    }


HOURLY_INGEST = Workload(
    name="hourly_ingest",
    why=(
        "The reference's hourly CSV ETL: run_batch loads beside dialect reads of "
        "the designated-ts table, then the streaming path with full redelivery"
    ),
    sizes=(
        f"{HOURLY_FILES} seeded hourly exports of {HOURLY_ROWS:,} drawn rows "
        "(~1% malformed, ~2% written twice)"
    ),
    tables=(),
    warmup=("load_0", "read_sample_by_0"),
    prepare=_hourly_prepare,
    pass_ops=_hourly_ops,
    own_metrics=_hourly_metrics,
    stored=_hourly_stored,
)

WORKLOADS = {w.name: w for w in (CONSOLE_MIX, LLM_CURATION, HOURLY_INGEST)}


def new_pass_dir(ctx: Ctx, label: str) -> str:
    """An empty directory for one pass's tables, indexes and checkpoints
    (the run's directory, and with it every pass's, is removed at exit)."""
    path = os.path.join(ctx.work, label)
    os.makedirs(path)
    return path
