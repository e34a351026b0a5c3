"""Per-layer metrics of a traced call.

Three sources, all observed from outside the engine:

* the Spark event log, summed over the job groups of the spans that cover
  a layer. Layers are matched by span name: a span around a call into
  ``operators.dedup`` (or a write of its result) carries that module path.
  Event-log seconds are task seconds, summed over all cores;
* span wall times;
* the single-thread kernel trace over a sample of the workload's pages.
  Its ``_s`` metrics are scaled from the sample to the whole input; its
  ``_ms`` metrics are per strip or per line.

A layer the workload does not exercise reads 0. Every value is the median
over the traced jobs of one call.
"""

from __future__ import annotations

from tracing import STRIP_FORMATS, Tracer, median


def layer_metrics(w, log, tracer, counts, kernels, *, untraced, traced,
                  session_start_s, k) -> dict:
    runs = traced["ids"]

    def spans(run, pred):
        return [s for s in tracer.spans if s["run"] == run and pred(s)]

    def groups(run, pred=lambda s: True):
        return [Tracer.group_of(s) for s in spans(run, pred)]

    def named(*names):
        return lambda s: s["name"] in names

    def under(module):
        return lambda s: module in s["name"]

    def task_sum(gs, attr):
        return sum(getattr(log.groups[g], attr) for g in gs if g in log.groups)

    def write_task_ms(run):
        gs = groups(run, named("sinks.tableio.write_table[data]"))
        return [
            ms for g in gs if g in log.groups
            for stage in log.groups[g].write_task_ms.values() for ms in stage
        ]

    def skew(run):
        ms = write_task_ms(run)
        return max(ms) / median(ms) if ms and median(ms) else 0.0

    def manifest_s(run):
        restart = {s["id"] for s in spans(
            run, named("sinks.partitioned.extract_and_write[restart]"))}
        return sum(s["end"] - s["start"] for s in spans(
            run, lambda s: s["name"] == "sinks.partitioned.read_manifest"
            and s["parent"] in restart))

    def per_run(fn):
        return median([fn(r) for r in runs])

    scan = ("FileScan", w.scan_path)
    detect = ("MapInPandas _extract_and_detect",)
    recognize = ("MapInPandas fn(", "strip#")
    dedup = under("operators.dedup.")
    data_write = named("sinks.tableio.write_table[data]")
    m = {
        "sources.scan_s": per_run(lambda r: log.sql_seconds(groups(r), scan, "scan time")),
        "sources.scan_bytes": per_run(lambda r: log.sql(groups(r), scan, "size of files read")),
        "operators.extract_html.python_s": per_run(lambda r: log.sql_seconds(
            groups(r), ("MapInPandas _extract_batches",), "time to run Python workers")),
        "operators.extract_html.python_bytes_sent": per_run(lambda r: log.sql(
            groups(r), ("MapInPandas _extract_batches",), "data sent to Python workers")),
        "operators.extract_html.python_bytes_received": per_run(lambda r: log.sql(
            groups(r), ("MapInPandas _extract_batches",), "data returned from Python workers")),
        "operators.pipeline.detect_python_s": per_run(lambda r: log.sql_seconds(
            groups(r), detect, "time to run Python workers")),
        "operators.pipeline.recognize_python_s": per_run(lambda r: log.sql_seconds(
            groups(r), recognize, "time to run Python workers")),
        "operators.pipeline.strip_bytes": per_run(lambda r: log.sql(
            groups(r), detect, "data returned from Python workers")),
        "operators.pipeline.assembly_shuffle_bytes": per_run(lambda r: log.sql(
            groups(r), ("Exchange hashpartitioning(url",), "shuffle bytes written")),
        "operators.dedup.construct_s": per_run(lambda r: sum(
            s["end"] - s["start"] for s in spans(r, lambda s: s["name"].startswith(
                "operators.dedup.")))),
        "operators.dedup.shuffle_write_bytes": per_run(
            lambda r: task_sum(groups(r, dedup), "shuffle_write_bytes")),
        "operators.dedup.shuffle_write_s": per_run(
            lambda r: task_sum(groups(r, dedup), "shuffle_write_ns") / 1e9),
        "sinks.partitioned.write_s": per_run(lambda r: sum(write_task_ms(r)) / 1e3),
        "sinks.partitioned.lineage_s": per_run(
            lambda r: tracer.wall(r, "sinks.tableio.write_table[lineage]")),
        "sinks.partitioned.bytes_written": per_run(
            lambda r: task_sum(groups(r, data_write), "output_bytes")),
        "sinks.partitioned.files_written": per_run(lambda r: log.sql(
            groups(r, data_write), ("InsertIntoHadoopFsRelationCommand",),
            "number of written files")),
        "sinks.partitioned.write_task_skew": per_run(skew),
        "sinks.partitioned.manifest_s": per_run(manifest_s),
        "sinks.partitioned.resume_s": median(untraced["resume_s"]),
        "spark.executor_run_s": per_run(lambda r: task_sum(groups(r), "run_ms") / 1e3),
        "spark.executor_cpu_s": per_run(lambda r: task_sum(groups(r), "cpu_ns") / 1e9),
        "spark.gc_s": per_run(lambda r: task_sum(groups(r), "gc_ms") / 1e3),
        "spark.tasks": per_run(lambda r: task_sum(groups(r), "tasks")),
        "spark.failed_tasks": per_run(lambda r: task_sum(groups(r), "failed_tasks")),
        "session.start_s": median(session_start_s),
        "trace.overhead": median(traced["job_s"]) / median(untraced["job_s"]),
    }
    for name in ("candidate_pairs", "verified_pairs", "cc_rounds"):
        m[f"operators.dedup.{name}"] = per_run(lambda r: counts.get(r, {}).get(name, 0))
    cand = m["operators.dedup.candidate_pairs"]
    m["operators.dedup.candidate_precision"] = (
        m["operators.dedup.verified_pairs"] / cand if cand else 0.0
    )

    # single-thread kernel trace
    sec, n = kernels["seconds"], kernels["counts"]
    scale = w.page_docs / kernels["docs"] if kernels["docs"] else 0.0

    def per_item_ms(key, items):
        return sec.get(key, 0.0) / n[items] * 1e3 if n.get(items) else 0.0

    m |= {
        "kernels.charset.decode_s": sec.get("decode", 0.0) * scale,
        "kernels.html.tokenize_s": sec.get("tokenize", 0.0) * scale,
        "kernels.html.score_assemble_s":
            (sec.get("extract", 0.0) - sec.get("tokenize", 0.0)) * scale,
        "kernels.html.nodes": n.get("nodes", 0),
        "kernels.png.decode_ms": per_item_ms("png", "png"),
        "kernels.jpeg.baseline_decode_ms": per_item_ms("jpeg_baseline", "jpeg_baseline"),
        "kernels.jpeg.progressive_decode_ms":
            per_item_ms("jpeg_progressive", "jpeg_progressive"),
        "kernels.gif.decode_ms": per_item_ms("gif", "gif"),
        "kernels.ocr.normalize_ms": per_item_ms("normalize", "normalized"),
        "kernels.font.recognize_ms": per_item_ms("recognize", "lines"),
        "kernels.font.lines": n.get("lines", 0),
        **{f"kernels.strips.{f}": n.get(f, 0) for f in STRIP_FORMATS},
    }
    kernel_s = (sum(sec.values()) - sec.get("tokenize", 0.0)) * scale
    m["spark.kernel_share"] = kernel_s / (median(untraced["job_s"]) * k)
    return m
