"""Metrics of one run: computed from the driver's raw samples, printed as a
table (name, value, unit, samples), and the contract's final JSON object.

A pass is one run of the workload's op list on fresh state; pass 0 is the
cold pass, the rest are steady passes. Timing metrics use steady passes.
"""
import statistics

import check
import stats

NS = 1e9

# name, unit, better, bound (share of the parent median). Metrics with a
# bound are the contract's (BENCHMARK.json); the rest are printed only:
# write_* and space_amp do not exist on analytic_suite, error_rate is 0 on
# a healthy run, and a run has too few samples for 10 to lie beyond p90.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("cold_s", "s", "lower", 0.25),
    ("ops_per_s", "ops/s", "higher", 0.25),
    ("read_p50_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
    ("read_p90_s", "s", "lower", None),
    ("write_p50_s", "s", "lower", None),
    ("write_p90_s", "s", "lower", None),
    ("space_amp", "ratio", "lower", None),
    ("error_rate", "ratio", "lower", None),
]
CONTRACT_E2E = [m for m in END_TO_END if m[3] is not None]

CORE_WRITES = ["append", "append_all", "merge_into", "merge_into_mor", "merge_apply",
               "delete_where", "delete_where_mor", "update_where", "replace_where",
               "compact", "restore"]
ARTIFACTS = ["basket_half_edges", "bigram_model", "bipartite_edges", "pipeline_reps",
             "shingle_index", "simhash_clusters", "simhash_pairs", "typo_rep_pairs"]
# queries that consume a staged artifact (see gen.ANALYTIC_QUERIES)
ARTIFACT_CONSUMERS = ["dedup_ngram", "dedup_simhash", "dedup_typos", "lm_fluency",
                      "graph_pagerank", "graph_label_prop", "graph_triangles"]

# name, unit, better
PER_LAYER = (
    [(f"core.{v}_p50_s", "s", "lower") for v in CORE_WRITES] +
    [(f"core.{r}_p50_s", "s", "lower") for r in ("read_where", "read_version", "changes_between")] +
    [("core.jobs_per_merge", "count", "lower"), ("core.outside_jobs_per_write_s", "s", "lower"),
     ("core.plan_scan_s", "s", "lower"), ("core.files_skipped_ratio", "ratio", "higher"),
     ("core.merge_pruned_ratio", "ratio", "higher"), ("core.log_replay_s", "s", "lower"),
     ("core.log_versions", "count", "lower"), ("core.bytes_written_mb", "MB", "lower"),
     ("core.live_files", "count", "lower"), ("core.orphan_files", "count", "lower"),
     ("manifest.select_s", "s", "lower"), ("build.topo_s", "s", "lower"),
     ("build.render_s", "s", "lower"), ("materialize.view_p50_s", "s", "lower"),
     ("materialize.table_p50_s", "s", "lower"), ("materialize.incremental_p50_s", "s", "lower"),
     ("materialize.scd2_s", "s", "lower"), ("backfill.chunk_p50_s", "s", "lower"),
     ("backfill.wall_s", "s", "lower"), ("backfill.parallel_eff", "ratio", "higher"),
     ("backfill.failed_tasks", "count", "lower"), ("streaming.drain_s", "s", "lower"),
     ("streaming.rows_per_s", "rows/s", "higher"), ("sql.analyze_p50_s", "s", "lower"),
     ("sql.exec_p50_s", "s", "lower"), ("catalyst.analysis_s", "s", "lower"),
     ("catalyst.optimization_s", "s", "lower"), ("catalyst.planning_s", "s", "lower"),
     ("artifact.build_s", "s", "lower")] +
    [(f"artifact.{a}_build_s", "s", "lower") for a in ARTIFACTS] +
    [("artifact.storage_mb", "MB", "lower"), ("artifact.persisted_rdds", "count", "lower"),
     ("operators.pass_s", "s", "lower"), ("llmops.pass_s", "s", "lower")] +
    [(f"query.{q}_p50_s", "s", "lower") for q in ARTIFACT_CONSUMERS] +
    [("spark.jobs", "count", "lower"), ("spark.tasks", "count", "lower"),
     ("spark.job_union_s", "s", "lower"), ("spark.outside_jobs_s", "s", "lower"),
     ("spark.task_cpu_s", "s", "lower"), ("spark.gc_s", "s", "lower"),
     ("spark.input_mb", "MB", "lower"), ("spark.shuffle_mb", "MB", "lower"),
     ("spark.spill_mb", "MB", "lower"), ("split.jobs_share", "ratio", "higher"),
     ("split.catalyst_share", "ratio", "lower"), ("split.outside_share", "ratio", "lower"),
     ("trace.ops_per_s", "ops/s", "higher"), ("env.calib_s", "s", "lower"),
     ("env.loadavg", "load", "lower")])


def _dur(s):
    return (s["t1"] - s["t0"]) / NS


def _p(values, q):
    return stats.percentile(values, q) if values else 0.0


def build_record(args, plan, res, expected, env, t_start):
    samples = res["samples"]
    bounds = {int(p): (t0, t1) for p, t0, t1 in res["pass_bounds"]}
    steady = [s for s in samples if s["pass"] >= 1]
    # output checks, outside every timed window
    mismatched = []
    for s in samples:
        if not s["ok"]:
            continue
        exp = expected[s["idx"]] if "idx" in s else []
        if not check.matches(exp, s["out"]):
            mismatched.append({"pass": s["pass"], "idx": s["idx"], "kind": s["kind"],
                               "expected": exp, "got": s["out"]})
    failed = [s for s in samples if not s["ok"]]
    attempted = len(samples)
    n_failed = len(failed) + len(mismatched)

    # time inside ops only: harness work between ops (template copies,
    # end-of-pass accounting, the analytic result dump) is not the program's
    steady_wall = stats.union_length([(s["t0"], s["t1"]) for s in steady]) / NS
    cold = [s for s in samples if s["pass"] == 0]
    reads = [_dur(s) for s in steady if s["cat"] == "read"]
    writes = [_dur(s) for s in steady if s["cat"] == "write"]
    lay = res["layer"]
    session_ready = res["origin_ms"] / 1e3 + res["marks"]["session_ready"] / NS
    m = {
        "setup_s": (session_ready - t_start) + statistics.median(res["setup_reps"]),
        "cold_s": stats.union_length([(s["t0"], s["t1"]) for s in cold]) / NS,
        "ops_per_s": sum(1 for s in steady if s["ok"]) / steady_wall if steady_wall else 0.0,
        "read_p50_s": _p(reads, 50), "read_p90_s": _p(reads, 90),
        "write_p50_s": _p(writes, 50), "write_p90_s": _p(writes, 90),
        "peak_rss_mb": res["vm_hwm_kb"] / 1024.0,
        "space_amp": (lay["space.total_bytes"] / lay["space.live_bytes"]
                      if lay.get("space.live_bytes") else 0.0),
        "error_rate": n_failed / attempted if attempted else 1.0,
    }
    counts = {"setup_s": len(res["setup_reps"]), "cold_s": len(cold),
              "ops_per_s": len(steady), "read_p50_s": len(reads),
              "read_p90_s": len(reads), "write_p50_s": len(writes),
              "write_p90_s": len(writes), "peak_rss_mb": 1,
              "space_amp": int(lay.get("space.passes", 0)), "error_rate": attempted}
    by_kind, cold_kind = {}, {}
    for s in steady:
        by_kind.setdefault(s["kind"], []).append(_dur(s))
    for s in cold:
        cold_kind[s["kind"]] = cold_kind.get(s["kind"], 0.0) + _dur(s)
    timeline = {
        "session_ready_s": session_ready - t_start,
        "setup_reps_s": res["setup_reps"],
        "pass_wall_s": [(t1 - t0) / NS for _, (t0, t1) in sorted(bounds.items())],
        "pass_ops_s": [stats.union_length([(s["t0"], s["t1"]) for s in samples
                                           if s["pass"] == p]) / NS for p in sorted(bounds)],
        "jvm_end_s": res["origin_ms"] / 1e3 + res["marks"]["end"] / NS - t_start}
    rec = {
        "timeline": timeline,
        "by_kind": {k: [len(v), _p(v, 50), max(v), cold_kind.get(k, 0.0)]
                    for k, v in sorted(by_kind.items())},
        "workload": args.workload, "trace": args.trace, "seconds": args.seconds,
        "metrics": m, "counts": counts,
        "beyond_p90": {"read": stats.beyond(len(reads), 90),
                       "write": stats.beyond(len(writes), 90)},
        "passes": len(bounds), "attempted": attempted, "failed_ops": failed[:5],
        "mismatched": mismatched[:5], "n_failed": n_failed,
        "env": dict(env, master=res["master"], default_parallelism=res["default_parallelism"],
                    driver_memory_mb=res["driver_memory"] / 2 ** 20,
                    workload_info=res["workload_info"], rows=plan.get("rows")),
    }
    if args.trace:
        rec["layers"], rec["op_split"], rec["span_self_s"] = per_layer(res, steady, bounds, env, m)
        rec["spans"], rec["jobs"] = res["spans"], res["jobs"]
        parts = [x for o in rec["op_split"] for x in (o["jobs"], o["catalyst"], o["outside"])]
        rec["split_check"] = {
            "ops": len(rec["op_split"]),
            "negative_parts": sum(1 for x in parts if x < 0),
            "max_residual_ns": max((abs(o["wall"] - o["jobs"] - o["catalyst"] - o["outside"])
                                    for o in rec["op_split"]), default=0)}
    units = {n: u for n, u, *_ in END_TO_END}
    if args.trace:
        units.update((n, u) for n, u, _ in PER_LAYER)
        chosen = rec["layers"]
    else:
        chosen = {n: m[n] for n, *_ in CONTRACT_E2E}
    rec["contract"] = {
        "correct": n_failed == 0 and attempted > 0,
        "attempted": attempted, "failed": n_failed,
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in chosen.items()}}
    return rec


def per_layer(res, steady, bounds, env, e2e):
    lay = res["layer"]
    jobs, spans, phases = res["jobs"], res["spans"], res["phases"]
    steady_ops = {s["op"]: s for s in steady}
    n_pass = max(1, len([p for p in bounds if p >= 1]))
    out = {n: 0.0 for n, *_ in PER_LAYER}

    def p50_kind(kinds):
        return _p([_dur(s) for s in steady if s["kind"] in kinds], 50)

    def ratio(a, b):
        return lay.get(a, 0.0) / lay[b] if lay.get(b) else 0.0

    for v in CORE_WRITES:
        out[f"core.{v}_p50_s"] = p50_kind({v})
    out["core.append_all_p50_s"] = ratio("core.append_all_s", "core.append_all_n")
    out["core.read_where_p50_s"] = p50_kind({"read_where_point", "read_where_range"})
    out["core.read_version_p50_s"] = p50_kind({"read_version"})
    out["core.changes_between_p50_s"] = p50_kind({"changes_between"})
    merges = [s for s in steady if s["kind"].startswith("merge_")]
    job_op = {}
    for j in jobs:
        job_op.setdefault(j["op"], []).append(j)
    if merges:
        out["core.jobs_per_merge"] = sum(len(job_op.get(s["op"], [])) for s in merges) / len(merges)
        live = sum(s.get("live", 0) for s in merges)
        out["core.merge_pruned_ratio"] = (sum(s["out"][2] for s in merges if s["ok"]) / live
                                          if live else 0.0)
    splits = {s["op"]: stats.op_split(s, job_op.get(s["op"], []), phases) for s in steady}
    wsplit = [splits[s["op"]] for s in steady if s["cat"] == "write"]
    if wsplit:
        out["core.outside_jobs_per_write_s"] = sum(
            x["wall"] - x["jobs"] for x in wsplit) / len(wsplit) / NS
    out["core.plan_scan_s"] = ratio("core.plan_scan_s", "core.plan_scan_n")
    if lay.get("core.files_total"):
        out["core.files_skipped_ratio"] = 1 - lay["core.files_scanned"] / lay["core.files_total"]
    out["core.log_replay_s"] = ratio("core.log_replay_s", "core.log_replay_n")
    passes = lay.get("space.passes", 0)
    if passes:
        out["core.log_versions"] = lay["core.log_versions"] / passes
        out["core.bytes_written_mb"] = lay["space.written_bytes"] / passes / 1e6
        out["core.live_files"] = lay["core.live_files"] / passes
        out["core.orphan_files"] = lay["core.orphan_files"] / passes
    for name in ("manifest.select_s", "build.topo_s", "build.render_s", "materialize.scd2_s",
                 "backfill.wall_s", "streaming.drain_s"):
        out[name] = lay.get(name, 0.0) / max(1, lay.get("pipeline.passes", 1))
    for k in ("view", "table", "incremental"):
        out[f"materialize.{k}_p50_s"] = p50_kind({f"model_{k}"})
    chunks = [_dur(s) for s in steady if s["kind"] == "backfill_chunk"]
    out["backfill.chunk_p50_s"] = _p(chunks, 50)
    if lay.get("backfill.wall_s"):
        out["backfill.parallel_eff"] = sum(chunks) / n_pass / (
            out["backfill.wall_s"] * lay.get("backfill.parallelism", 1))
    out["backfill.failed_tasks"] = float(sum(
        1 for s in res["samples"] if s["kind"] == "backfill_chunk" and not s["ok"]))
    if lay.get("streaming.drain_s"):
        out["streaming.rows_per_s"] = lay["streaming.rows"] / lay["streaming.drain_s"]
    by_name = {}
    for sp in spans:
        if sp["op"] in steady_ops:
            by_name.setdefault(sp["name"], []).append((sp["t1"] - sp["t0"]) / NS)
    out["sql.analyze_p50_s"] = _p(by_name.get("sql.analyze", []), 50)
    out["sql.exec_p50_s"] = _p(by_name.get("sql.exec", []), 50)
    lo = min((b[0] for p, b in bounds.items() if p >= 1), default=0)
    hi = max((b[1] for p, b in bounds.items() if p >= 1), default=0)
    for ph in ("analysis", "optimization", "planning"):
        iv = [(x["t0"], x["t1"]) for x in phases if x["phase"] == ph and lo <= x["t0"] < hi]
        out[f"catalyst.{ph}_s"] = stats.union_length(iv) / NS / n_pass
    art = lay.get("artifact.times", {}) or {}
    out["artifact.build_s"] = sum(art.values())
    for a in ARTIFACTS:
        out[f"artifact.{a}_build_s"] = art.get(a, 0.0)
    out["artifact.storage_mb"] = lay.get("artifact.storage_bytes", 0.0) / 1e6
    out["artifact.persisted_rdds"] = lay.get("artifact.persisted_rdds", 0.0)
    for fam in ("operators", "llmops"):
        out[f"{fam}.pass_s"] = sum(_dur(s) for s in steady if s.get("family") == fam) / n_pass
    for q in ARTIFACT_CONSUMERS:
        out[f"query.{q}_p50_s"] = p50_kind({q})
    steady_jobs = [j for j in jobs if j["op"] in steady_ops]
    tm = [v for k, v in res["task_metrics"].items() if int(k) in steady_ops]
    tot = [sum(col) for col in zip(*tm)] if tm else [0] * 6
    union = stats.union_length([(j["t0"], j["t1"]) for j in steady_jobs]) / NS
    out.update({
        "spark.jobs": len(steady_jobs) / n_pass, "spark.tasks": tot[0] / n_pass,
        "spark.job_union_s": union / n_pass,
        "spark.outside_jobs_s": sum(x["wall"] - x["jobs"] for x in splits.values()) / NS / n_pass,
        "spark.task_cpu_s": tot[1] / NS / n_pass, "spark.gc_s": tot[2] / 1e3 / n_pass,
        "spark.input_mb": tot[3] / 1e6 / n_pass, "spark.shuffle_mb": tot[4] / 1e6 / n_pass,
        "spark.spill_mb": tot[5] / 1e6 / n_pass})
    w = sum(x["wall"] for x in splits.values())
    if w:
        for part in ("jobs", "catalyst", "outside"):
            out[f"split.{part}_share"] = sum(x[part] for x in splits.values()) / w
    out["trace.ops_per_s"] = e2e["ops_per_s"]
    out["env.calib_s"] = (env["calib_s_start"] + env["calib_s_end"]) / 2
    out["env.loadavg"] = (env["loadavg_start"] + env["loadavg_end"]) / 2
    op_split = [dict(splits[s["op"]], op=s["op"], kind=s["kind"]) for s in steady]
    # self time per layer call: each span minus the part its children cover
    steady_spans = [sp for sp in spans if sp["op"] in steady_ops]
    names = {sp["id"]: sp["name"] for sp in steady_spans}
    self_by_name = {}
    for sid, t in stats.self_times(steady_spans).items():
        self_by_name[names[sid]] = self_by_name.get(names[sid], 0.0) + t / NS / n_pass
    return out, op_split, self_by_name


def print_report(rec):
    e = rec["env"]
    print(f"# {rec['workload']}  trace={rec['trace']}  seed={e.get('seed')}  "
          f"commit={e.get('git_commit')}  sources={e.get('source_stamp')}  "
          f"nproc={e['nproc']}  master={e['master']}  "
          f"parallelism={e['default_parallelism']}  heap={e['driver_memory_mb']:.0f}MB")
    print(f"# calib_s {e['calib_s_start']:.4f} -> {e['calib_s_end']:.4f}  "
          f"loadavg {e['loadavg_start']:.2f} -> {e['loadavg_end']:.2f}  "
          f"passes={rec['passes']}  ops={rec['attempted']}  failed={rec['n_failed']}")
    t = rec["timeline"]
    print(f"# timeline: session ready {t['session_ready_s']:.2f}s, set-up reps "
          f"{', '.join(f'{x:.2f}' for x in t['setup_reps_s'])}s, passes wall/in-ops "
          + ", ".join(f"{w:.2f}/{o:.2f}" for w, o in zip(t['pass_wall_s'], t['pass_ops_s']))
          + f"s, driver done {t['jvm_end_s']:.2f}s")
    print(f"{'metric':34s} {'value':>14s} {'unit':>8s} {'samples':>8s}")
    for name, unit, *_ in END_TO_END:
        print(f"{name:34s} {rec['metrics'][name]:14.6g} {unit:>8s} {rec['counts'][name]:8d}")
    print(f"# samples beyond p90: read {rec['beyond_p90']['read']}, "
          f"write {rec['beyond_p90']['write']}")
    print("# steady ops by kind: count, p50_s, max_s; cold pass total_s")
    for k, (n, p50, mx, c) in rec["by_kind"].items():
        print(f"#   {k:30s} {n:5d} {p50:10.4f} {mx:10.4f} {c:10.4f}")
    if rec.get("split_check"):
        c = rec["split_check"]
        print(f"# layer split of {c['ops']} steady ops (jobs + catalyst + outside = wall): "
              f"negative parts {c['negative_parts']}, largest residual {c['max_residual_ns']} ns")
    for name, t in sorted(rec.get("span_self_s", {}).items()):
        print(f"# self time per steady pass in {name}: {t:.4f} s")
    if rec.get("layers"):
        units = {n: u for n, u, _ in PER_LAYER}
        for name, v in rec["layers"].items():
            print(f"{name:34s} {v:14.6g} {units[name]:>8s}")
    for s in rec["failed_ops"]:
        print(f"# FAILED pass {s['pass']} {s['kind']}: {s['err']}")
    for s in rec["mismatched"]:
        print(f"# MISMATCH pass {s['pass']} op {s['idx']} {s['kind']}: "
              f"expected {s['expected']} got {s['got']}")
