"""One benchmark run in a fresh process and Spark session.

Started by run.py as ``python3 worker.py <config.json>``.  It builds the
session, runs the warm-up passes, then timed passes back to back (one
driver thread, a closed loop) until the configured seconds are spent,
checks the first timed pass's results, and writes the full run record
to the config's ``result`` path.

With tracing on, timed passes run untraced, traced, traced, untraced,
in groups of four.  End-to-end
figures come from the untraced passes only; the traced passes give the
per-layer figures, and the difference of the two pass medians is the
tracing overhead.
"""

from __future__ import annotations

import json
import math
import statistics
import sys
import time
import traceback
from pathlib import Path

import numpy as np

import checks
import host
import imagegen
import spark_trace
from workloads import FULL, SMOKE, WORKLOADS


QUERY_ONLY_LAYERS = (
    "builder_s",
    "builder_jobs",
    "plan_s",
    *spark_trace.NODE_FIELDS,
    "result_rows",
)
IMAGING_ONLY_LAYERS = (
    "listing_s",
    "files_listed",
    "probe_s",
    "job_s",
    "band_stage_task_s",
    "chunks_written",
    "store_files",
    "store_bytes",
    "stored_bytes_per_raw_byte",
    "decode_s_per_mb",
    "pyramid_s_per_mb",
    "compress_s_per_mb",
    "kernel_coverage",
)


def _record(kind: str, payload: dict) -> dict:
    rec = {"record": kind, **payload}
    print("perfbench-record " + json.dumps(rec), file=sys.stderr, flush=True)
    return rec


class QueryRunner:
    """Runs a list of registered queries as one pass."""

    def __init__(self, spark, names, sf_dir: str):
        from aind_smartspim_data_transformation_spark import registry

        self.spark = spark
        self.names = names
        self.sf_dir = sf_dir
        self.queries = registry.all_queries()
        self.oracles = registry.all_oracles()
        self.reader = spark_trace.StatusReader(spark)
        parquet_bytes = sum(p.stat().st_size for p in Path(sf_dir).glob("*.parquet"))
        self.input_mb = parquet_bytes / 1e6
        self.inputs = {"sf_dir": sf_dir, "parquet_bytes": parquet_bytes}

    @staticmethod
    def _collect(df) -> tuple[list[str], list[tuple]]:
        return df.columns, [tuple(r) for r in df.collect()]

    def _run_plain(self, name: str) -> tuple[dict, object]:
        t0 = time.perf_counter()
        result = self._collect(self.queries[name](self.spark, self.sf_dir))
        return {"wall_s": time.perf_counter() - t0}, result

    def _run_traced(self, name: str, group: str) -> tuple[dict, object]:
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        try:
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            builder_jobs = self.reader.job_ids(group)
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            t2 = time.perf_counter()
            result = self._collect(df)
            t3 = time.perf_counter()
        finally:
            sc._jsc.clearJobGroup()
        exec_jobs = [j for j in self.reader.job_ids(group) if j not in builder_jobs]
        ex = self.reader.exec_metrics(exec_jobs)
        ex.pop("max_stage_task_s")
        layers = {
            "builder_s": t1 - t0,
            "builder_jobs": len(builder_jobs),
            "plan_s": t2 - t1,
            "exec_s": t3 - t2,
            **ex,
            "idle_slot_frac": spark_trace.idle_slot_frac(
                ex["task_s"], t3 - t2, host.cores()
            ),
            **spark_trace.plan_node_counts(qe.executedPlan()),
            "result_rows": len(result[1]),
        }
        return {"wall_s": t3 - t0, "layers": layers}, result

    def run_pass(self, index: int, traced: bool) -> dict:
        ops, results = [], {}
        t0 = time.perf_counter()
        for name in self.names:
            try:
                if traced:
                    op, result = self._run_traced(name, f"perfbench-{index}-{name}")
                else:
                    op, result = self._run_plain(name)
                results[name] = result
            except Exception as exc:  # a failed query counts; the run goes on
                op = {"error": f"{type(exc).__name__}: {exc}"[:500]}
                traceback.print_exc()
            self.spark.catalog.clearCache()
            ops.append({"name": name, **op})
        return {"wall_s": time.perf_counter() - t0, "ops": ops, "results": results}

    def check(self, first_pass: dict) -> list[str]:
        from aind_smartspim_data_transformation_spark.tables import TABLE_NAMES

        con = checks.oracle_connection(self.sf_dir, TABLE_NAMES)
        failures = []
        for name, result in first_pass["results"].items():
            why = checks.check_rows(con, self.oracles[name], *result)
            if why:
                failures.append(f"{name}: {why}")
        return failures

    def layer_totals(self, passes: list[dict]) -> dict:
        """Per-layer sums over one traced pass's queries (median over
        traced passes), with the idle share recomputed from the sums."""
        per_pass = []
        for p in passes:
            tot: dict = {}
            for op in p["ops"]:
                for k, v in op.get("layers", {}).items():
                    tot[k] = tot.get(k, 0) + v
            tot["idle_slot_frac"] = spark_trace.idle_slot_frac(
                tot.get("task_s", 0.0), tot.get("exec_s", 0.0), host.cores()
            )
            per_pass.append(tot)
        return {k: statistics.median(t[k] for t in per_pass) for k in per_pass[0]}


class ImagingRunner:
    """One pass is one ``run_imaging_job`` call with default settings
    into a fresh output directory."""

    def __init__(self, spark, src: Path, work: Path, seed: int, spec):
        self.spark = spark
        self.src = src
        self.work = work
        self.seed = seed
        self.spec = spec
        self.check_stack = seed % len(spec.stacks)
        self.input_mb = spec.raw_bytes / 1e6
        self.inputs: dict = {}
        self.reader = spark_trace.StatusReader(spark)
        self.kept: Path | None = None

    def _settings(self, out: Path):
        from aind_smartspim_data_transformation_spark.config.settings import (
            ImagingJobSettings,
        )

        return ImagingJobSettings(input_source=str(self.src), output_directory=str(out))

    def store_stats(self, out: Path) -> dict:
        files = [p for p in out.rglob("*") if p.is_file() and ".ome.zarr" in str(p)]
        store_bytes = sum(p.stat().st_size for p in files)
        return {
            "chunks_written": sum(1 for p in files if p.name.isdigit()),
            "store_files": len(files),
            "store_bytes": store_bytes,
            "stored_bytes_per_raw_byte": store_bytes / self.spec.raw_bytes,
        }

    def run_pass(self, index: int, traced: bool) -> dict:
        import shutil

        from aind_smartspim_data_transformation_spark.imaging.fused import (
            probe_stack_geometry,
        )
        from aind_smartspim_data_transformation_spark.imaging.job import run_imaging_job
        from aind_smartspim_data_transformation_spark.sources.stack_reader import (
            scan_stack_files,
        )

        out = self.work / f"store{index}"
        settings = self._settings(out)
        op: dict = {"name": "run_imaging_job"}
        layers: dict = {}
        sc = self.spark.sparkContext
        group = f"perfbench-{index}-imaging"
        t_pass = time.perf_counter()
        try:
            if traced:
                root = f"{self.src}/SmartSPIM"
                t0 = time.perf_counter()
                layers["files_listed"] = scan_stack_files(self.spark, root).count()
                layers["listing_s"] = time.perf_counter() - t0
                t0 = time.perf_counter()
                probe_stack_geometry(self.spark, root)
                layers["probe_s"] = time.perf_counter() - t0
                sc.setJobGroup(group, "run_imaging_job")
            try:
                t0 = time.perf_counter()
                resp = run_imaging_job(self.spark, settings)
                op["wall_s"] = time.perf_counter() - t0
            finally:
                if traced:
                    sc._jsc.clearJobGroup()
            if resp.get("status_code") != 200:
                raise RuntimeError(f"job returned {resp.get('status_code')}: {resp}")
            if traced:
                ex = self.reader.exec_metrics(self.reader.job_ids(group))
                layers["band_stage_task_s"] = ex.pop("max_stage_task_s")
                layers.update(ex)
                layers["job_s"] = layers["exec_s"] = op["wall_s"]
                layers["idle_slot_frac"] = spark_trace.idle_slot_frac(
                    ex["task_s"], op["wall_s"], host.cores()
                )
                layers.update(self.store_stats(out))
                op["layers"] = layers
        except Exception as exc:  # a failed job counts; the run goes on
            op = {"name": "run_imaging_job", "error": f"{type(exc).__name__}: {exc}"[:500]}
            traceback.print_exc()
        wall_s = op.get("wall_s", time.perf_counter() - t_pass)
        if index == 0 and "error" not in op:
            self.kept = out  # the first timed store is read back by check()
        else:
            shutil.rmtree(out, ignore_errors=True)
        return {"wall_s": wall_s, "ops": [op], "results": {}}

    def _stack_files(self) -> list[Path]:
        ch, stack = self.spec.stacks[self.check_stack]
        d = self.src / "SmartSPIM" / ch / stack.split("_")[0] / stack
        return sorted(d.glob("*.png"))

    def check(self, first_pass: dict) -> list[str]:
        if self.kept is None:
            return []  # every job raised; already counted as failed
        ch, stack = self.spec.stacks[self.check_stack]
        s = self._settings(self.kept)
        why = checks.check_pyramid(
            f"{self.kept}/{ch}/{stack}.ome.zarr",
            imagegen.render_stack(self.seed, self.check_stack, self.spec),
            s.downsample_levels,
            tuple(s.scale_factor),
        )
        return [f"run_imaging_job {ch}/{stack}: {why}"] if why else []

    def kernel_replay(self, band_stage_task_s: float) -> dict:
        """Serial replay of the ingest kernels on the checked stack's
        own slices: seconds per MB of level-0 pixels for PNG decode, the
        windowed-mean ladder and the sink codec; ``kernel_coverage`` is
        their sum scaled to the job's raw MB over the band stage's
        task-seconds."""
        from aind_smartspim_data_transformation_spark.imaging.pyramid import (
            windowed_mean,
        )
        from aind_smartspim_data_transformation_spark.imaging.zarr_sink import (
            _make_codec,
            pad_block,
        )
        from aind_smartspim_data_transformation_spark.sources.stack_reader import (
            decode_image_gray,
        )

        s = self._settings(self.work)
        blobs = [p.read_bytes() for p in self._stack_files()]
        t0 = time.perf_counter()
        vol = np.stack([decode_image_gray(b) for b in blobs])
        decode_s = time.perf_counter() - t0
        mb = vol.nbytes / 1e6
        factors = tuple(s.scale_factor)
        t0 = time.perf_counter()
        ladder = [vol]
        for _ in range(s.downsample_levels - 1):
            ladder.append(windowed_mean(ladder[-1], factors))
        pyramid_s = time.perf_counter() - t0
        cz, cy, cx = s.chunk_size
        blocks = []
        for lvl in ladder:
            dims = (min(cz, lvl.shape[0]), min(cy, lvl.shape[1]), min(cx, lvl.shape[2]))
            for z in range(0, lvl.shape[0], dims[0]):
                for y in range(0, lvl.shape[1], dims[1]):
                    for x in range(0, lvl.shape[2], dims[2]):
                        block = lvl[z:z + dims[0], y:y + dims[1], x:x + dims[2]]
                        blocks.append(pad_block(block, dims).tobytes())
        _, compress = _make_codec(s.compressor_name.value, s.compressor_kwargs)
        t0 = time.perf_counter()
        for b in blocks:
            compress(b)
        compress_s = time.perf_counter() - t0
        per_mb = {
            "decode_s_per_mb": decode_s / mb,
            "pyramid_s_per_mb": pyramid_s / mb,
            "compress_s_per_mb": compress_s / mb,
        }
        replayed = sum(per_mb.values()) * self.input_mb
        per_mb["kernel_coverage"] = replayed / band_stage_task_s if band_stage_task_s else 0.0
        return per_mb

    def layer_totals(self, passes: list[dict]) -> dict:
        layers = [p["ops"][0]["layers"] for p in passes if "layers" in p["ops"][0]]
        if not layers:
            return {}
        return {k: statistics.median(x[k] for x in layers) for k in layers[0]}


def _geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def end_to_end(runner, plain: list[dict], setup_s: float, peak_rss_mb: float,
               failed_frac: float) -> dict:
    """Figures a user sees.  On the imaging workload the one operation
    is the job, so ``geomean_query_s`` reads its median wall; on the
    query workload ``mb_per_s`` is parquet input MB over a pass."""
    op_walls: dict[str, list[float]] = {}
    for p in plain:
        for op in p["ops"]:
            if "wall_s" in op:
                op_walls.setdefault(op["name"], []).append(op["wall_s"])
    pass_s = statistics.median(p["wall_s"] for p in plain)
    out = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "geomean_query_s": _geomean([statistics.median(v) for v in op_walls.values()]),
        "mb_per_s": runner.input_mb / pass_s,
        "peak_rss_mb": peak_rss_mb,
        "failed_frac": failed_frac,
    }
    if isinstance(runner, ImagingRunner) and runner.kept is not None:
        out["stored_bytes_per_raw_byte"] = runner.store_stats(runner.kept)[
            "stored_bytes_per_raw_byte"
        ]
    return out


def tables_dir(sf: str) -> str:
    """The project's read-only fixture tables at scale ``sf``: a sibling
    of the smoke tables that ``__spark_entry__`` points at."""
    from __spark_entry__ import SMOKE_SF_DIR

    path = Path(SMOKE_SF_DIR).parent / sf
    if not path.is_dir():
        raise FileNotFoundError(f"fixture tables {path} not found")
    return str(path)


def main(config_path: str) -> int:
    cfg = json.loads(Path(config_path).read_text())
    scale = SMOKE if cfg["smoke"] else FULL
    workload, trace, seconds = cfg["workload"], cfg["trace"], cfg["seconds"]
    work = Path(cfg["work"])

    from aind_smartspim_data_transformation_spark.session import build_local_session

    spark = build_local_session(
        app_name=f"perfbench-{workload}", cpus=host.cores(), driver_memory="3g"
    )
    spark.sparkContext.setLogLevel("ERROR")
    if workload == "imaging_ingest":
        runner = ImagingRunner(spark, work / "src", work, cfg["seed"], scale.image)
    else:
        runner = QueryRunner(spark, WORKLOADS[workload], tables_dir(scale.sf))
    rss = host.PeakRss()
    try:
        for i in range(scale.warmup_passes[workload]):
            runner.run_pass(-1 - i, traced=False)
        setup_s = time.time() - cfg["spawned_at"]

        passes: list[dict] = []
        rss.resume()
        t0 = time.perf_counter()
        while (
            not passes
            or time.perf_counter() - t0 < seconds
            or (trace and len(passes) % 4)
        ):
            # untraced, traced, traced, untraced: a session still warming
            # up biases neither side of the tracing overhead
            traced = bool(trace) and len(passes) % 4 in (1, 2)
            p = runner.run_pass(len(passes), traced)
            p["traced"] = traced
            passes.append(p)
        rss.pause()
    finally:
        rss.close()

    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    failures = runner.check(passes[0])
    ops = [op for p in passes for op in p["ops"]]
    failures += [f"{op['name']}: {op['error']}" for op in ops if "error" in op]
    records = [
        _record("op", {"workload": workload, "pass": i, "traced": p["traced"], **op})
        for i, p in enumerate(passes)
        for op in p["ops"]
    ]
    result = {
        "workload": workload,
        "inputs": runner.inputs,
        "attempted": len(ops),
        "failed": len(failures),
        "failures": failures,
        "passes": [{"traced": p["traced"], "wall_s": p["wall_s"]} for p in passes],
        "end_to_end": end_to_end(
            runner, plain, setup_s, rss.peak_mb, len(failures) / len(ops)
        ),
        "records": records,
    }
    if traced:
        layers = runner.layer_totals(traced)
        if workload == "imaging_ingest" and layers:
            layers.update(runner.kernel_replay(layers["band_stage_task_s"]))
        # layers this workload never calls read 0
        for name in QUERY_ONLY_LAYERS if workload == "imaging_ingest" else IMAGING_ONLY_LAYERS:
            layers.setdefault(name, 0)
        for name in ("pass_s", "mb_per_s", "geomean_query_s", "peak_rss_mb"):
            layers[name] = result["end_to_end"][name]
        layers["trace_overhead_s"] = (
            statistics.median(p["wall_s"] for p in traced) - result["end_to_end"]["pass_s"]
        )
        result["per_layer"] = layers
    Path(cfg["result"]).write_text(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
