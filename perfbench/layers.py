"""Per-layer metrics of a traced run.

Layers are named after package modules. Every traced run reports every
metric below; a layer the workload does not exercise reads 0 (for
example ``dedupidx.*`` on ``retrieval``). Walls are medians over the
traced operations (or over the set-up call, for builds). ``spark.*``
figures are per traced operation of the measured loop. README.md maps
each metric to the end-to-end metric it should move.
"""

from __future__ import annotations

import statistics

import tracing as tr

UNITS = {
    "embedding.wall_s": "s",
    "embedding.executor_cpu_s": "s",
    "dedupidx.build_wall_s": "s",
    "dedupidx.build_executor_cpu_s": "s",
    "dedupidx.filter_wall_s": "s",
    "dedupidx.filter_jobs": "count",
    "dedupidx.append_wall_s": "s",
    "dedupidx.flagged_frac": "frac",
    "dedupidx.layout_files": "count",
    "ivf.build_wall_s": "s",
    "ivf.build_jobs": "count",
    "ivf.append_wall_s": "s",
    "ivf.search_wall_s": "s",
    "ivf.search_jobs": "count",
    "ivf.search_input_mb": "MB",
    "ivf.layout_files": "count",
    "inverted.build_wall_s": "s",
    "inverted.append_wall_s": "s",
    "inverted.search_wall_s": "s",
    "inverted.search_input_mb": "MB",
    "hybrid.fuse_wall_s": "s",
    "crawl.call_wall_s": "s",
    "crawl.stream_start_s": "s",
    "crawl.driver_gap_s": "s",
    "crawl.jobs": "count",
    "crawl.unknown_jobs": "count",
    "crawl.sink_wall_s": "s",
    "crawl.sink_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.busy_frac": "frac",
    "spark.driver_gap_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "spark.jvm_peak_rss_mb": "MB",
    "loop.op_p50_s": "s",
    "host.steal_s": "s",
    "host.canary_s": "s",
    "host.job_storm_s": "s",
    "trace.overhead_s": "s",
    "quality.dup_recall": "frac",
    "quality.fresh_kept_frac": "frac",
    "quality.ivf_recall_at_10": "frac",
}

MB = 1e6


def _cpu_s(jobs: list[tr.Job]) -> float:
    return sum(j.total("executorCpuTime") for j in jobs) / 1e9


def per_layer(spark, wl, tracer: tr.Tracer, quality: dict, hosts,
              cpus: int) -> tuple[dict[str, float], dict]:
    jobs = tr.collect_jobs(spark)
    assigned = tr.assign_jobs(tracer, jobs)
    spans = list(enumerate(tracer.spans))
    m = {name: 0.0 for name in UNITS}

    def under(i: int) -> list[tr.Job]:
        return tr.jobs_under(tracer, assigned, i)

    def named(name: str, parent: str | None = None):
        return [
            (i, sp) for i, sp in spans
            if sp.name == name and sp.end and (
                parent is None
                or (sp.parent is not None and tracer.spans[sp.parent].name == parent)
            )
        ]

    # -- set-up builds (one call each) --------------------------------------
    for i, sp in named("embedding.embed"):
        m["embedding.wall_s"] = sp.wall
        m["embedding.executor_cpu_s"] = _cpu_s(under(i))
    for i, sp in named("dedupidx.build"):
        m["dedupidx.build_wall_s"] = sp.wall
        m["dedupidx.build_executor_cpu_s"] = _cpu_s(under(i))
    for i, sp in named("ivf.build"):
        m["ivf.build_wall_s"] = sp.wall
        m["ivf.build_jobs"] = len(under(i))
    for i, sp in named("inverted.build"):
        m["inverted.build_wall_s"] = sp.wall
    # appends made by set-up calls (retrieval)
    for layer in ("ivf", "inverted"):
        walls = [sp.wall for _i, sp in named(f"{layer}.append")]
        if walls:
            m[f"{layer}.append_wall_s"] = statistics.median(walls)

    # -- crawl calls of the measured loop: split by call site ---------------
    window_from = getattr(wl, "window_from", None)
    crawl_rows = []
    for i, sp in named("crawl.call"):
        if window_from is None or sp.attrs.get("batch", -1) < window_from:
            continue
        cj = under(i)
        buckets: dict[str, list[tr.Job]] = {}
        for j in cj:
            buckets.setdefault(tr.crawl_bucket(j.name), []).append(j)
        known = [j for j in cj if tr.crawl_bucket(j.name) != "unknown"]
        crawl_rows.append({
            "batch": sp.attrs.get("batch"),
            "call_wall_s": sp.wall,
            "stream_start_s": (min(j.submit for j in known) - sp.start) if known else 0.0,
            "driver_gap_s": sp.wall - tr.covered(
                [(max(j.submit, sp.start), min(j.end, sp.end)) for j in cj]),
            "jobs": len(cj),
            "buckets": {
                b: {"jobs": len(js), "extent_s": tr.extent(js),
                    "busy_s": tr.covered([(j.submit, j.end) for j in js])}
                for b, js in sorted(buckets.items())
            },
        })

    def crawl_med(key: str) -> float:
        return tr.median(row[key] for row in crawl_rows)

    def bucket_med(bucket: str, field: str = "extent_s") -> float:
        return tr.median(row["buckets"].get(bucket, {}).get(field, 0) for row in crawl_rows)

    if crawl_rows:
        for key in ("call_wall_s", "stream_start_s", "driver_gap_s", "jobs"):
            m[f"crawl.{key}"] = crawl_med(key)
        m["crawl.unknown_jobs"] = bucket_med("unknown", "jobs")
        m["crawl.sink_wall_s"] = bucket_med("crawl.sink")
        m["crawl.sink_jobs"] = bucket_med("crawl.sink", "jobs")
        m["dedupidx.filter_wall_s"] = bucket_med("dedupidx.filter")
        m["dedupidx.filter_jobs"] = bucket_med("dedupidx.filter", "jobs")
        m["dedupidx.append_wall_s"] = bucket_med("dedupidx.append")
        m["ivf.append_wall_s"] = bucket_med("ivf.append")
        m["inverted.append_wall_s"] = bucket_med("inverted.append")
        m["dedupidx.flagged_frac"] = tr.median(
            op.detail.get("flagged_frac", 0.0) for op in wl.ops if op.traced)

    # -- questions ------------------------------------------------------------
    def search(name: str, parent: str):
        rows = [(sp.wall, under(i)) for i, sp in named(name, parent)]
        return (
            tr.median(w for w, _ in rows),
            tr.median(len(js) for _, js in rows),
            tr.median(sum(j.total("inputBytes") for j in js) / MB for _, js in rows),
        )

    if named("question.vector"):
        wall, njobs, mb = search("ivf.search", "question.vector")
        m["ivf.search_wall_s"], m["ivf.search_jobs"], m["ivf.search_input_mb"] = wall, njobs, mb
    if named("question.keyword"):
        wall, _n, mb = search("inverted.search", "question.keyword")
        m["inverted.search_wall_s"], m["inverted.search_input_mb"] = wall, mb
    m["hybrid.fuse_wall_s"] = tr.median(sp.wall for _i, sp in named("hybrid.fuse"))

    # -- Spark totals per traced operation of the loop ------------------------
    op_spans = [
        (i, sp) for i, sp in spans
        if sp.parent is None and sp.end and (
            sp.name.startswith("question.")
            or (sp.name == "crawl.call" and window_from is not None
                and sp.attrs.get("batch", -1) >= window_from)
        )
    ]
    per_op = []
    for i, sp in op_spans:
        js = under(i)
        stages = [st for j in js for st in j.stages]
        per_op.append({
            "wall": sp.wall,
            "jobs": len(js),
            "stages": len(stages),
            "tasks": sum(st.get("numCompleteTasks", 0) for st in stages),
            "executor_run_s": sum(j.total("executorRunTime") for j in js) / 1e3,
            "executor_cpu_s": _cpu_s(js),
            "gc_s": sum(j.total("jvmGcTime") for j in js) / 1e3,
            "shuffle_write_mb": sum(j.total("shuffleWriteBytes") for j in js) / MB,
            "input_mb": sum(j.total("inputBytes") for j in js) / MB,
            "output_mb": sum(j.total("outputBytes") for j in js) / MB,
            "driver_gap_s": sp.wall - tr.covered(
                [(max(j.submit, sp.start), min(j.end, sp.end)) for j in js]),
        })
    if per_op:
        n = len(per_op)
        for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                    "gc_s", "shuffle_write_mb", "input_mb", "output_mb", "driver_gap_s"):
            m[f"spark.{key}"] = sum(r[key] for r in per_op) / n
        m["spark.busy_frac"] = (
            sum(r["executor_run_s"] for r in per_op) / (sum(r["wall"] for r in per_op) * cpus)
        )
    m["spark.jvm_peak_rss_mb"] = tr.jvm_peak_rss_mb()

    before, after = hosts
    m["host.canary_s"] = (before["canary_s"] + after["canary_s"]) / 2
    m["host.job_storm_s"] = (before["job_storm_s"] + after["job_storm_s"]) / 2

    m["trace.overhead_s"] = tr.median(
        op.detail["trace_cost_s"] for op in wl.ops if op.traced)
    traced = [op.wall for op in wl.ops if op.traced]
    untraced = [op.wall for op in wl.ops if not op.traced]
    traced_minus_untraced = (
        statistics.median(traced) - statistics.median(untraced)
        if traced and untraced else None
    )
    for key in ("quality.dup_recall", "quality.fresh_kept_frac", "quality.ivf_recall_at_10"):
        m[key] = quality[key]
    m.update(wl.layout_files())

    doc = {
        "workload": wl.name,
        "seed": wl.seed,
        "ops": [vars(op) for op in wl.ops],
        "self_times": tracer.self_times(),
        "crawl_calls": crawl_rows,
        "per_op_spark": per_op,
        "host": {"before": before, "after": after},
        "traced_minus_untraced_s": traced_minus_untraced,
        "spans": [vars(sp) for sp in tracer.spans],
        "jobs": [
            {"id": j.id, "name": j.name, "submit": j.submit, "end": j.end,
             "stages": len(j.stages)}
            for j in jobs
        ],
        "per_layer": m,
    }
    return m, doc
