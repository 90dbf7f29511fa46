"""The benchmark's workloads. Each one drives the engine through its public
functions only, times every op, gates every op's correctness and, in a
traced run, fills the per-layer metrics of ``layers.PER_LAYER``.

Why each workload exists (which layer it loads, which it bypasses) is in
README.md next to this file.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import datagen
from gate import check, digest, duckdb_connection
from harness import Context, Op, start_session
from tracing import job_counts

STAR_QUERIES = (
    "flagship_revenue",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_volume_customer",
    "join_enrich_star",
    "window_running_revenue",
    "events_tumbling_window",
    "asof_join_events",
    "pivot_priority_counts",
)
CURATION_QUERIES = (
    "exact_text_dedup",
    "minhash_lsh_neardup",
    "embedding_cosine_topk",
    "embedding_lsh_topk",
    "text_quality_score",
    "word_frequencies",
    "prefix_filter_jaccard_join",
    "doc_novelty_score",
)

# The query tables are fixed (the seed orders the queries), so every seed
# sees the same data and a gate failure can only come from the engine.
DATA_SEED = 42
QUERY_SF = 0.01
# untimed noop passes after the collecting warm-up pass
QUERY_NOOP_WARMUP_PASSES = 1

# batch_ingest: per cycle, product and customer candidates of which half
# the keys are already in the warehouse, plus a batch of facts. The shape
# is the reference pipeline's per-run shape (10 candidates per dimension
# table, 100 facts) times INGEST_SCALE. At 4 cores a whole cycle stays at
# its fixed cost of about 3.5-4 s from 1x to 100x and leaves it above
# (about 4.8 s at 200x, 8 s at 2000x): 100x is the largest scale at which
# the cycle runs the reference's regime, with 100 times its rows.
INGEST_SCALE = 100
INGEST_PRODUCTS = 10 * INGEST_SCALE
INGEST_CUSTOMERS = 10 * INGEST_SCALE
INGEST_FACTS = 100 * INGEST_SCALE
INGEST_WARMUP_CYCLES = 3

# stream_ingest: every message delivered twice, every Nth resent under a
# fresh transaction id
STREAM_ROWS_PER_TRIGGER = 200
STREAM_RESEND_EVERY = 20
# triggers of the short drain a traced run uses for the stream layers
STREAM_TRACE_TRIGGERS = 2


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _elapsed_since(t: float) -> float:
    return time.perf_counter() - t


def _traced_pass(i: int) -> bool:
    """Passes alternate untraced/traced in an ABBA pattern, so the traced
    run measures its own overhead without favouring either side."""
    return i % 4 in (1, 2)


def _more(ctx: Context, i: int, t0: float) -> bool:
    """Whether to start pass ``i``: passes are whole, and a traced run
    makes at least one full ABBA round, so the warm-up trend that remains
    after the warm-up passes cancels out of the overhead estimate."""
    return i < (4 if ctx.trace else 1) or _elapsed_since(t0) < ctx.seconds


def _tables_of(df, sizes: dict[str, int]) -> list[str]:
    """The benchmark tables a DataFrame scans, from its input files."""
    names = set()
    for f in df.inputFiles():
        base = f.rstrip("/").rsplit("/", 1)[-1]
        if base.endswith(".parquet") and base[: -len(".parquet")] in sizes:
            names.add(base[: -len(".parquet")])
    return sorted(names)


def _bad(ctx: Context, bad: set[str], name: str, why: str) -> None:
    if name not in bad:
        bad.add(name)
        ctx.fail(f"{name}: {why}")


def _run_query(ctx: Context, name: str, tables: str, group: str | None):
    """One op: ``Query.fn`` (driver-side plan construction), then a noop
    action (execution). With a job group (traced ops) it also counts the
    Spark jobs, stages and tasks the op ran. Returns (build s, execute s,
    counts or None)."""
    from ecommerce_data_pipeline_spark.plans.registry import REGISTRY

    spark = ctx.spark
    if group is not None:
        ctx.tracer.op = group
        spark.sparkContext.setJobGroup(group, group)
    a = time.perf_counter()
    df = REGISTRY[name].fn(spark, tables)
    b = time.perf_counter()
    _noop(df)
    c = time.perf_counter()
    counts = job_counts(spark.sparkContext, group) if group is not None else None
    return b - a, c - b, counts


def query_mix(ctx: Context, names: tuple[str, ...]) -> None:
    """Read-only registry mix: each pass runs every query once in an order
    shuffled from the seed."""
    from ecommerce_data_pipeline_spark.plans.registry import REGISTRY

    tables = ctx.path("tables")
    t_data = time.perf_counter()
    sizes = datagen.write_tables(tables, QUERY_SF, DATA_SEED)
    ctx.own_s += _elapsed_since(t_data)
    t_session = time.perf_counter()
    spark = ctx.spark = start_session(ctx, "perfbench")
    ctx.layer["session.get_spark_s"] = _elapsed_since(t_session)
    _noop(spark.range(1))  # the warm-up pass collects; load the noop sink too
    rng = random.Random(ctx.seed)
    tracer = ctx.tracer
    if ctx.trace:
        tracer.patch("ecommerce_data_pipeline_spark.sources.readers", "load_table",
                     "readers.load_table")

    # Warm-up pass, untimed: every query collects, and the results are
    # kept for the correctness gate after the timed passes. (A warm-up of
    # noop actions alone left the timed ops 7-35% slower in 3 of 3 seeded
    # runs.)
    t_warm = time.perf_counter()
    bad: set[str] = set()
    first_run: dict[str, tuple[list[tuple], list[str]]] = {}
    order = list(names)
    rng.shuffle(order)
    for name in order:
        try:
            df = REGISTRY[name].fn(spark, tables)
            first_run[name] = ([tuple(r) for r in df.collect()], df.columns)
        except Exception as e:  # noqa: BLE001 - a failing query is a failed op
            _bad(ctx, bad, name, f"raised {type(e).__name__}: {e}")
    # Then untimed passes run exactly like the timed ones: after the
    # collecting pass, the next pass is still 10-20% slower than the ones
    # after it.
    for _ in range(QUERY_NOOP_WARMUP_PASSES):
        order = list(names)
        rng.shuffle(order)
        for name in order:
            if name in bad:
                continue
            try:
                _run_query(ctx, name, tables, None)
            except Exception as e:  # noqa: BLE001 - a failing query is a failed op
                _bad(ctx, bad, name, f"raised {type(e).__name__}: {e}")
    ctx.layer["session.warmup_s"] = _elapsed_since(t_warm)

    build: list[float] = []
    execute: list[float] = []
    counts: list[dict[str, int]] = []
    lat_by_mode: dict[bool, dict[str, list[float]]] = {False: {}, True: {}}
    t0 = ctx.start_timing()
    i = 0
    while _more(ctx, i, t0):
        order = list(names)
        rng.shuffle(order)
        for name in order:
            # each query runs its own ABBA round, rotated by its position,
            # so every pass has traced and untraced ops in equal numbers
            traced = ctx.trace and _traced_pass(i + names.index(name))
            tracer.active = traced
            a = time.perf_counter()
            try:
                b_s, e_s, n = _run_query(ctx, name, tables, f"{name}#{i}" if traced else None)
                ok = True
            except Exception as e:  # noqa: BLE001 - a failing query is a failed op
                _bad(ctx, bad, name, f"raised {type(e).__name__}: {e}")
                ok = False
            lat = _elapsed_since(a)
            ctx.ops.append(Op(name, lat, ok))
            lat_by_mode[traced].setdefault(name, []).append(lat)
            if traced and ok:
                build.append(b_s)
                execute.append(e_s)
                counts.append(n)
        ctx.end_pass(t0)
        i += 1
    ctx.timed_wall_s = _elapsed_since(t0)
    tracer.active = False

    # Correctness gate, once per query after the timed passes: the warm-up
    # result against the oracle's or, for queries without an oracle, a
    # repeat against the warm-up result. The query's plan gives the tables
    # it scans, hence its input rows.
    con = duckdb_connection(tables)
    rows_of: dict[str, int] = {}
    tables_of: dict[str, list[str]] = {}
    for name in names:
        if name in bad:
            continue
        q = REGISTRY[name]
        try:
            df = q.fn(spark, tables)
            tables_of[name] = _tables_of(df, sizes)
            rows_of[name] = sum(sizes[t] for t in tables_of[name])
            if q.oracle is not None:
                err = check(*first_run[name], con, q.oracle)
            else:
                want = digest(*first_run[name])
                got = digest([tuple(r) for r in df.collect()], df.columns)
                err = None if got == want else (
                    f"repeat gave {got[0]} rows / hash {got[1][:12]}, "
                    f"first run {want[0]} rows / {want[1][:12]}")
        except Exception as e:  # noqa: BLE001 - a failing query is a failed op
            err = f"raised {type(e).__name__}: {e}"
        if err:
            _bad(ctx, bad, name, err)
    con.close()
    for op in ctx.ops:
        op.ok = op.ok and op.name not in bad
        op.rows = rows_of.get(op.name, 0)

    if not ctx.trace:
        return
    n_ops = len(build)
    ctx.layer.update({
        "plans.build_s": sum(build) / n_ops,
        "plans.execute_s": sum(execute) / n_ops,
        "plans.build_share": sum(build) / (sum(build) + sum(execute)),
        **_count_layers(counts),
    })
    st = tracer.self_times()
    ctx.layer["readers.load_table_s"] = st.get("readers.load_table", {}).get("total_s", 0.0) / n_ops
    tracer.unpatch()
    # scan floor: a full-column decode of the tables each op touched
    floor: dict[str, float] = {}
    for t in sorted({t for ts in tables_of.values() for t in ts}):
        _noop(spark.read.parquet(f"{tables}/{t}.parquet"))  # first read loads classes
        a = time.perf_counter()
        _noop(spark.read.parquet(f"{tables}/{t}.parquet"))
        floor[t] = _elapsed_since(a)
    traced_ops = [n for mode, per in lat_by_mode.items() if mode for n, v in per.items() for _ in v]
    ctx.layer["readers.scan_floor_s"] = sum(
        floor[t] for n in traced_ops for t in tables_of.get(n, [])) / len(traced_ops)
    if "flagship_revenue" in names:
        ctx.layer["pipeline.flagship_revenue_s"] = statistics.median(
            o.latency_s for o in ctx.ops if o.name == "flagship_revenue"
        )
    _overhead(ctx, lat_by_mode)
    _curation_breakdown(ctx, tables)


def _count_layers(counts: list[dict[str, int]]) -> dict[str, float]:
    n = len(counts)
    return {
        "spark.jobs_per_op": sum(c["jobs"] for c in counts) / n,
        "spark.stages_per_op": sum(c["stages"] for c in counts) / n,
        "spark.tasks_per_op": sum(c["tasks"] for c in counts) / n,
        "spark.failed_tasks": sum(c["failed_tasks"] for c in counts),
    }


def _curation_breakdown(ctx: Context, tables: str) -> None:
    """Per-query plan time, execution time, jobs and tasks of the curation
    mix, which loads ``operators.similarity``, ``operators.text`` and the
    Python UDF path: one untimed warm-up pass, then one counted pass."""
    for name in CURATION_QUERIES:
        try:
            _run_query(ctx, name, tables, None)
        except Exception as e:  # noqa: BLE001 - reported, then skipped
            ctx.fail(f"{name}: raised {type(e).__name__}: {e}")
    for name in CURATION_QUERIES:
        if any(n.startswith(f"{name}:") for n in ctx.notes):
            continue
        b_s, e_s, n = _run_query(ctx, name, tables, f"curation:{name}")
        ctx.layer[f"curation.{name}.build_s"] = b_s
        ctx.layer[f"curation.{name}.execute_s"] = e_s
        ctx.layer[f"curation.{name}.jobs"] = n["jobs"]
        ctx.layer[f"curation.{name}.tasks"] = n["tasks"]


def _overhead(ctx: Context, lat_by_mode: dict[bool, dict[str, list[float]]]) -> None:
    """Tracing overhead: traced over untraced time of the same ops."""
    untraced, traced = lat_by_mode[False], lat_by_mode[True]
    common = [n for n in traced if n in untraced]
    if common:
        t = sum(statistics.median(traced[n]) for n in common)
        u = sum(statistics.median(untraced[n]) for n in common)
        ctx.layer["trace.overhead_frac"] = t / u - 1.0


def star_queries(ctx: Context) -> None:
    query_mix(ctx, STAR_QUERIES)


def curation(ctx: Context) -> None:
    query_mix(ctx, CURATION_QUERIES)


def _key_range(df, key: str, lo: int, hi: int):
    from pyspark.sql import functions as F

    num = F.regexp_extract(F.col(key), r"(\d+)$", 1).cast("long")
    return df.where((num >= lo) & (num < hi))


def batch_ingest(ctx: Context) -> None:
    """The reference EP1+EP2 cycle against one growing warehouse. Cycle c
    offers products and customers whose keys start at half a batch past
    cycle c-1's, so half of them are already present, and a fact batch
    whose foreign keys all exist; facts get fresh transaction ids."""
    from pyspark.sql import functions as F

    from ecommerce_data_pipeline_spark import ingest
    from ecommerce_data_pipeline_spark.operators import generators

    t_session = time.perf_counter()
    spark = ctx.spark = start_session(ctx, "perfbench")
    ctx.layer["session.get_spark_s"] = _elapsed_since(t_session)
    sc = spark.sparkContext
    tracer = ctx.tracer
    if ctx.trace:
        for mod, attr, name in (
            ("ecommerce_data_pipeline_spark.ingest", "refresh_dimension", "ingest.refresh_dimension"),
            ("ecommerce_data_pipeline_spark.ingest", "ingest_fact_batch", "ingest.ingest_fact_batch"),
            ("ecommerce_data_pipeline_spark.sources.writers", "write_partitioned_parquet",
             "writers.write_partitioned_parquet"),
            ("ecommerce_data_pipeline_spark.sources.writers", "append_table", "writers.append_table"),
        ):
            tracer.patch(mod, attr, name)
    wh = ingest.Warehouse(ctx.path("warehouse"))
    appended = 0
    facts_in = 0

    def cycle(c: int) -> tuple[bool, int]:
        nonlocal appended, facts_in
        seed_c = ctx.seed * 1_000 + c
        p_lo = 0 if c == 0 else c * INGEST_PRODUCTS // 2
        c_lo = 0 if c == 0 else c * INGEST_CUSTOMERS // 2
        with tracer.span("generators.generate"):
            products = _key_range(
                generators.generate_products(spark, p_lo + INGEST_PRODUCTS, seed_c),
                "product_id", p_lo, p_lo + INGEST_PRODUCTS)
            customers = _key_range(
                generators.generate_customers(spark, c_lo + INGEST_CUSTOMERS, seed_c),
                "customer_id", c_lo, c_lo + INGEST_CUSTOMERS)
            base = time.strftime("%Y-%m-%d %H:%M:%S",
                                 time.gmtime(1_704_067_200 + c * INGEST_FACTS))
            facts = generators.generate_transactions(
                spark, INGEST_FACTS, products, customers, base_ts=base, seed=seed_c)
        m = ingest.run_ingest_cycle(
            spark, wh, products, customers, facts, "transaction_date",
            landing_path=ctx.path("landing", f"cycle={c}"), dedup_key="transaction_id",
        )
        appended += m["facts_ingested"]
        facts_in += INGEST_FACTS
        want_p = INGEST_PRODUCTS if c == 0 else INGEST_PRODUCTS // 2
        want_c = INGEST_CUSTOMERS if c == 0 else INGEST_CUSTOMERS // 2
        ok = (m["facts_orphaned"] == 0 and m["facts_ingested"] == INGEST_FACTS
              and m["new_products"] == want_p and m["new_customers"] == want_c)
        if not ok:
            ctx.fail(f"cycle {c}: {m}, wanted {want_p} new products, "
                     f"{want_c} new customers, {INGEST_FACTS} facts, 0 orphans")
        return ok, m["facts_ingested"]

    t_warm = time.perf_counter()
    for c in range(INGEST_WARMUP_CYCLES):
        cycle(c)
    ctx.layer["session.warmup_s"] = _elapsed_since(t_warm)

    lat_by_mode: dict[bool, dict[str, list[float]]] = {False: {}, True: {}}
    counts: list[dict[str, int]] = []
    t0 = ctx.start_timing()
    c = INGEST_WARMUP_CYCLES
    i = 0
    while _more(ctx, i, t0):
        traced = ctx.trace and _traced_pass(i)
        tracer.active = traced
        group = f"cycle#{c}"
        if traced:
            tracer.op = group
            sc.setJobGroup(group, group)
        a = time.perf_counter()
        try:
            ok, rows = cycle(c)
        except Exception as e:  # noqa: BLE001 - a failing cycle is a failed op
            ctx.fail(f"cycle {c} raised {type(e).__name__}: {e}")
            ok, rows = False, 0
        lat = _elapsed_since(a)
        ctx.ops.append(Op(f"cycle{c}", lat, ok, rows))
        ctx.end_pass(t0)
        lat_by_mode[traced].setdefault("cycle", []).append(lat)
        if traced:
            counts.append(job_counts(sc, group))
        c += 1
        i += 1
    ctx.timed_wall_s = _elapsed_since(t0)
    tracer.active = False

    # Whole-warehouse gate, untimed: every appended fact is there once.
    fact = spark.read.parquet(wh.table("fact_enriched"))
    n_rows, n_ids = fact.agg(F.count(F.lit(1)), F.countDistinct("transaction_id")).first()
    if n_rows != appended or n_ids != n_rows:
        ctx.fail(f"warehouse holds {n_rows} facts / {n_ids} distinct ids, "
                 f"cycles appended {appended}")
        for op in ctx.ops:
            op.ok = False

    if not ctx.trace:
        return
    n_traced = len(counts)
    st = tracer.self_times()

    def per_cycle(span: str) -> float:
        return st.get(span, {}).get("total_s", 0.0) / n_traced

    lat = [o.latency_s for o in ctx.ops]
    ctx.layer.update({
        "generators.generate_s": per_cycle("generators.generate"),
        "ingest.refresh_dimension_s": per_cycle("ingest.refresh_dimension"),
        "ingest.ingest_fact_batch_s": per_cycle("ingest.ingest_fact_batch"),
        "ingest.cycle_growth": lat[-1] / lat[0],
        "writers.write_partitioned_parquet_s": per_cycle("writers.write_partitioned_parquet"),
        "writers.append_table_s": per_cycle("writers.append_table"),
        **_count_layers(counts),
    })
    n_cycles = c
    files = bytes_ = dirs = 0
    for root in (wh.root, ctx.path("landing")):
        for d, subdirs, fs in os.walk(root):
            parts = [f for f in fs if f.endswith(".parquet")]
            files += len(parts)
            bytes_ += sum(os.path.getsize(os.path.join(d, f)) for f in parts)
            if root != wh.root and parts and not subdirs:
                dirs += 1
    ctx.layer["writers.files_written"] = files / n_cycles
    ctx.layer["writers.bytes_per_row"] = bytes_ / facts_in
    ctx.layer["writers.partition_dirs"] = dirs / n_cycles
    _overhead(ctx, lat_by_mode)
    # The stream layers cannot be a timed workload inside the benchmark's
    # time budget (one trigger takes about 10 s on 4 cores), so the traced
    # ingest run drains a short queue through them after the cycles.
    tracer.unpatch()
    _stream_layers(ctx, STREAM_TRACE_TRIGGERS, ctx.path("stream_trace"))


def _queue_drain(ctx: Context, n: int) -> None:
    from ecommerce_data_pipeline_spark.sources.queue_source import register_queue_source

    spark = ctx.spark
    register_queue_source(spark)

    def read():
        return spark.read.format("txqueue").option("seed", ctx.seed).option("nMessages", n).load()

    _noop(read())  # starts the Python source workers
    a = time.perf_counter()
    _noop(read())
    ctx.layer["queue.drain_rows_per_s"] = n / _elapsed_since(a)


def _drain(ctx: Context, root: str, n_messages: int):
    """Start the streaming flagship on a fresh warehouse and checkpoint,
    drain ``n_messages`` queue offsets with ``processAllAvailable`` and
    stop it. Returns (progress list, wall seconds)."""
    from ecommerce_data_pipeline_spark.streaming import flagship
    from ecommerce_data_pipeline_spark.streaming.pipeline import (
        run_stream_with_handshake_retry,
    )

    spark = ctx.spark
    dims = flagship.queue_dimensions(spark)
    out: dict = {}

    def run() -> None:
        q = flagship.run_streaming_flagship(
            spark, f"{root}/wh", f"{root}/ckpt", *dims,
            available_now=False, seed=ctx.seed, rows_per_batch=STREAM_ROWS_PER_TRIGGER,
            max_offset=n_messages, resend_every=STREAM_RESEND_EVERY,
        )
        try:
            a = time.perf_counter()
            q.processAllAvailable()
            out["wall"] = _elapsed_since(a)
            out["progress"] = q.recentProgress
        finally:
            q.stop()

    run_stream_with_handshake_retry(run)
    return out["progress"], out["wall"]


def _stream_gate(ctx: Context, root: str, n_messages: int) -> str | None:
    """None when a drain of ``n_messages`` offsets landed one fact per
    distinct transaction id delivered and one near-dup pair per resend."""
    spark = ctx.spark
    resends = len(range(0, n_messages, STREAM_RESEND_EVERY))
    landed = spark.read.parquet(f"{root}/wh/fact_enriched").count()
    pairs = spark.read.parquet(f"{root}/wh/neardup_pairs").count()
    err = None
    if landed != n_messages + resends or pairs != resends:
        err = (f"landed {landed} facts / {pairs} near-dup pairs, wanted "
               f"{n_messages + resends} / {resends}")
    return err


def _stream_layers(ctx: Context, triggers: int, root: str) -> None:
    """Traced drain: trigger breakdown from ``recentProgress`` plus spans
    around the foreachBatch handler and its near-dup store increment."""
    from ecommerce_data_pipeline_spark.streaming import flagship

    tracer = ctx.tracer
    original_handler = flagship.flagship_batch_handler

    def traced_handler(*args, **kwargs):
        handle = original_handler(*args, **kwargs)

        def wrapped(batch, batch_id):
            with tracer.span("stream.handler", op=f"trigger#{batch_id}"):
                handle(batch, batch_id)

        return wrapped

    tracer.patch("ecommerce_data_pipeline_spark.streaming.pipeline",
                 "neardup_store_increment", "stream.neardup_increment")
    flagship.flagship_batch_handler = traced_handler
    tracer.active = True
    try:
        progress, _wall = _drain(ctx, root, triggers * STREAM_ROWS_PER_TRIGGER)
    finally:
        tracer.active = False
        flagship.flagship_batch_handler = original_handler
        tracer.unpatch()
    err = _stream_gate(ctx, root, triggers * STREAM_ROWS_PER_TRIGGER)
    if err:
        ctx.fail(f"traced stream drain: {err}")
    _progress_layers(ctx, progress)
    st = tracer.self_times()
    n = max(1, st.get("stream.handler", {}).get("count", 0))
    ctx.layer["stream.enrich_write_s"] = st.get("stream.handler", {}).get("self_s", 0.0) / n
    ctx.layer["stream.neardup_increment_s"] = (
        st.get("stream.neardup_increment", {}).get("total_s", 0.0) / n)
    _queue_drain(ctx, 2_000)


def _progress_layers(ctx: Context, progress: list) -> None:
    data = [p for p in progress if p.numInputRows > 0] or list(progress)
    empty = [p for p in progress if p.numInputRows == 0]

    def med(key: str) -> float:
        return statistics.median(p.durationMs.get(key, 0) for p in data)

    ctx.layer.update({
        "stream.trigger_ms": med("triggerExecution"),
        "stream.add_batch_ms": med("addBatch"),
        "stream.query_planning_ms": med("queryPlanning"),
        "stream.wal_commit_ms": med("walCommit"),
        "stream.commit_offsets_ms": med("commitOffsets"),
        "stream.empty_trigger_ms": (
            statistics.median(p.durationMs.get("triggerExecution", 0) for p in empty)
            if empty else 0.0),
    })
    last = progress[-1]
    state = last.stateOperators[0] if last.stateOperators else None
    ctx.layer["stream.state_rows"] = state.numRowsTotal if state else 0
    ctx.layer["stream.state_bytes"] = state.memoryUsedBytes if state else 0


def stream_ingest(ctx: Context) -> None:
    """The streaming flagship drained trigger by trigger; an op is one
    micro-batch trigger, its latency the trigger's ``triggerExecution``."""
    t_session = time.perf_counter()
    ctx.spark = start_session(ctx, "perfbench")
    ctx.layer["session.get_spark_s"] = _elapsed_since(t_session)
    t_warm = time.perf_counter()
    progress, wall = _drain(ctx, ctx.path("stream_warmup"), STREAM_ROWS_PER_TRIGGER)
    ctx.layer["session.warmup_s"] = _elapsed_since(t_warm)
    per_trigger = wall / max(1, len(progress))
    n_triggers = max(2, round(ctx.seconds / per_trigger))
    ctx.start_timing()
    n_messages = n_triggers * STREAM_ROWS_PER_TRIGGER
    try:
        progress, wall = _drain(ctx, ctx.path("stream"), n_messages)
        err = _stream_gate(ctx, ctx.path("stream"), n_messages)
    except Exception as e:  # noqa: BLE001 - a failed drain fails its ops
        ctx.fail(f"drain raised {type(e).__name__}: {e}")
        progress, wall, err = [], 0.0, "raised"
        ctx.ops.append(Op("trigger", 0.0, False))
    if err:
        ctx.fail(err)
    warm_err = _stream_gate(ctx, ctx.path("stream_warmup"), STREAM_ROWS_PER_TRIGGER)
    if warm_err:
        ctx.fail(f"warm-up drain: {warm_err}")
    for p in progress:
        ctx.ops.append(Op(f"trigger{p.batchId}", p.durationMs["triggerExecution"] / 1000.0,
                          err is None, p.numInputRows))
    ctx.timed_wall_s = wall or 1.0
    if ctx.trace:
        _stream_layers(ctx, STREAM_TRACE_TRIGGERS, ctx.path("stream_trace"))


WORKLOADS = {
    "star_queries": star_queries,
    "batch_ingest": batch_ingest,
    "curation": curation,
    "stream_ingest": stream_ingest,
}
