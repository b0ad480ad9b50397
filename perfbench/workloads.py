"""The benchmark workloads.

Each workload function takes a :class:`Ctx`, starts its own
SparkSession (its start time is part of ``setup_s``) and returns
``(end_to_end, per_layer)`` metric dicts; ``per_layer`` is filled only
when ``ctx.trace`` is set.
Correctness checks go through ``ctx.check``: an operation (a suite
pass, a CLI call, a query) that raised, gave a wrong output or exited
with an unexpected code counts as failed.

- clips: ``plans.pipeline.run_full_suite`` with audio in a warm
  session (the paper's headline job: the Arrow audio UDF and the row
  suite carry the work), then ``cli.main validate --checkpoint-dir ...
  --no-audio --json-reports ...`` and a resume leg after deleting the
  newest half of the manifest groups (per-group plan rebuilds, the
  partitioned sinks and manifest writes carry the work).
- corpus: every ``__spark_entry__.queries()`` entry with a noop sink
  over a seed-permuted copy of the sf0.001 corpus (the dedup,
  similarity, text, stats and drift operators carry the work; no
  audio, no sinks).
"""

from __future__ import annotations

import contextlib
import importlib
import io
import json
import pkgutil
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

import inputs
from measure import StageStats, Tracer

# clips per run; multiples of 400 keep the defect mix (period 50, 8
# kinds) identical for every seed
N_CLIPS = 2000
# the CLI's per-group cost is mostly fixed (plan rebuild, jobs,
# sinks), so a run affords two groups: two shards, one per group, and
# after the newer group's manifest is dropped the resume leg redoes
# its one shard as one group
SHARDS = 2
SHARD_BATCHES = 2
MIN_PASSES = 5
AUDIO_SAMPLE = 256          # clips timed in-process for the audio layer
NEAR_DUPS = ("minhash_near_dups", "simhash_near_dups", "embedding_near_dups")

# query -> the layer (engine module) that does its work; queries built
# inline in __spark_entry__ fall under "entry"
QUERY_LAYER = {
    "validate_documents": "plans.validate",
    "stats_single_pass": "operators.stats", "stats_quantiles": "operators.stats",
    "uniqueness_dup_keys": "operators.uniqueness",
    "uniqueness_dup_keys_salted": "operators.uniqueness",
    "uniqueness_gate": "operators.uniqueness",
    "ri_orphans": "operators.integrity", "ri_semi_count": "operators.integrity",
    "drift_psi": "operators.drift", "drift_ks": "operators.drift",
    "dedup_exact": "operators.dedup", "dedup_keep_first": "operators.dedup",
    "minhash_near_dups": "operators.dedup", "simhash_near_dups": "operators.dedup",
    "embedding_near_dups": "operators.dedup",
    "embed_topk": "operators.similarity", "ivf_topk": "operators.similarity",
    "unique_tokens": "operators.text", "contains_token": "operators.text",
    "token_counts": "operators.text", "quality_counts": "operators.text",
    "fingerprint": "operators.text", "lang_id": "operators.text",
    "quality_scores": "operators.text",
}

# layers whose self time the traced run reports (span names)
SELF_LAYERS = ("cli", "compiler", "plans.pipeline", "plans.validate.preds", "catalyst",
               "plans.validate", "functions.audio", "operators.uniqueness",
               "operators.integrity",
               "plans.report", "plans.checkpoint", "operators.dedup",
               "operators.stats", "operators.drift", "operators.similarity",
               "operators.text", "entry", "trace")


@dataclass
class Ctx:
    root: Path
    cache: Path
    seed: int
    seconds: float
    trace: bool
    threads: int                # Spark task threads (local[threads])
    t0: float                   # perf_counter at process start
    attempted: int = 0
    failed: int = 0
    notes: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.setdefault("failures", []).append(what)

    def mark(self, event: str) -> None:
        """Note when ``event`` happened, in seconds since the run began."""
        self.notes.setdefault("timeline_s", {})[event] = round(
            time.perf_counter() - self.t0, 3)


def start_session(ctx: Ctx):
    """(SparkSession, seconds to start it), sized to the machine."""
    t0 = time.perf_counter()
    from jesse_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{ctx.threads}]",
                      shuffle_partitions=ctx.threads)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.mark("session")
    return spark, time.perf_counter() - t0


def _median_load(read, reps: int = 3) -> float:
    """Median wall of ``reps`` input loads."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        read()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def catalyst_phases(df) -> dict[str, float]:
    """Force physical planning of ``df`` and return its
    analysis/optimization/planning seconds from the QueryPlanningTracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out, it = {}, qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def _layers(tr: Tracer, st: StageStats, wall_traced: float, wall_plain: float,
            **extra) -> dict[str, float]:
    """Every per-layer metric; a layer the workload never enters reads 0."""
    builds = tr.select("plans.pipeline")
    phases = {k: 0.0 for k in ("analysis", "optimization", "planning")}
    for ph in tr.captured.get("catalyst", []):
        for k in phases:
            phases[k] += ph.get(k, 0.0)
    checks = tr.captured.get("compile_checks", [])
    self_t = tr.self_times()
    m = {
        "compiler.compile_s": tr.total("compiler"),
        "compiler.checks": float(sum(len(c) for c in checks)),
        "plans.validate.preds_s": tr.total("plans.validate.preds"),
        "plans.pipeline.build_s": sum(s["end"] - s["start"] for s in builds),
        "driver.py4j_calls": (statistics.mean(s["py4j"] for s in builds)
                              if builds else 0.0),
        "catalyst.analysis_s": phases["analysis"],
        "catalyst.optimization_s": phases["optimization"],
        "catalyst.planning_s": phases["planning"],
        "spark.jobs": st.total("jobs"),
        "spark.tasks": st.total("tasks"),
        "spark.shuffle_bytes": st.total("shuffle_bytes"),
        "spark.spill_bytes": st.total("spill_bytes"),
        "spark.gc_s": st.total("gc_s"),
        "spark.task_skew": max(st.skew, default=1.0),
        "plans.validate.task_s": st.get("plans.validate", "run_s"),
        "operators.uniqueness.task_s": st.get("operators.uniqueness", "run_s"),
        "operators.uniqueness.shuffle_bytes": st.get("operators.uniqueness",
                                                     "shuffle_bytes"),
        "operators.integrity.task_s": st.get("operators.integrity", "run_s"),
        "operators.dedup.task_s": st.get("operators.dedup", "run_s"),
        "operators.stats.task_s": st.get("operators.stats", "run_s"),
        "operators.drift.task_s": st.get("operators.drift", "run_s"),
        "operators.similarity.task_s": st.get("operators.similarity", "run_s"),
        "operators.text.task_s": st.get("operators.text", "run_s"),
        "functions.audio.task_s": st.get("functions.audio", "run_s"),
        "trace.traced_wall_s": wall_traced,
        "trace.untraced_wall_s": wall_plain,
        "trace.overhead_s": wall_traced - wall_plain,
        "trace.unattributed_frac": max(0.0, wall_traced - tr.top_level_time())
        / wall_traced,
    }
    for name in ("functions.audio.verify_us", "functions.audio.decode_us",
                 "functions.audio.synth_us", "functions.audio.snr_us",
                 "functions.audio.transcript_us", "functions.audio.boundary_s",
                 "functions.audio.decode_ratio", "plans.validate.violation_rows",
                 "plans.report.write_s", "plans.report.bytes_written",
                 "plans.report.files_written", "plans.checkpoint.record_s",
                 "plans.checkpoint.groups", "plans.checkpoint.group_s",
                 "plans.checkpoint.groups_redone", "plans.checkpoint.resume_s",
                 "operators.dedup.candidate_pairs", "operators.dedup.verified_pairs",
                 "operators.dedup.verify_yield", "operators.dedup.near_dups_s",
                 "cli.fresh_s"):
        m[name] = 0.0
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = self_t.get(layer, 0.0)
    m.update(extra)
    return m


def _wrap_driver_layers(tr: Tracer) -> None:
    """Spans around compile, predicate construction and the suite build,
    and a forced planning of each built suite's violations plan."""
    from jesse_spark import compiler
    from jesse_spark.plans import pipeline
    pv = importlib.import_module("jesse_spark.plans.validate")  # not the re-exported fn

    tr.wrap_function(compiler.compile_checks, "compiler", capture=True)
    for fn in (pv.check_preds, pv.violations_array, pv.fail_fast_pred):
        tr.wrap_function(fn, "plans.validate.preds", capture=fn is pv.check_preds)

    def plan(res) -> None:
        with tr.span("catalyst"):
            tr.captured["catalyst"].append(catalyst_phases(res.violations))

    tr.wrap_function(pipeline.run_full_suite, "plans.pipeline", after=plan)


# ---------------------------------------------------------------------------
# clips: one-shot suite passes, then the checkpointed CLI
# ---------------------------------------------------------------------------
def _triples(rows) -> list:
    return sorted((r[0], r[1], r[2]) for r in rows)


def _read_violations(vpath: str) -> list:
    """(clip_id, constraint, path) rows of a CLI violations directory
    (hive-partitioned by ``_shard`` and ``constraint``)."""
    import pyarrow.parquet as pq

    rows = []
    for f in Path(vpath).rglob("part-*.parquet"):
        constraint = f.parent.name.split("=", 1)[1]
        t = pq.read_table(f, columns=["clip_id", "path"])
        rows += [(c, constraint, p) for c, p in zip(t.column("clip_id").to_pylist(),
                                                    t.column("path").to_pylist())]
    return sorted(rows)


def _manifest_groups(ck: Path) -> list[tuple[float, list[Path], float]]:
    """Manifest files grouped by record call (one ``finished_at`` per
    call), oldest first: (finished_at, files, wall_sec)."""
    import pyarrow.parquet as pq

    groups: dict[float, list] = {}
    walls: dict[float, float] = {}
    for f in ck.rglob("*.parquet"):
        t = pq.read_table(f, columns=["finished_at", "wall_sec"])
        if t.num_rows:
            key = t.column("finished_at")[0].as_py()
            groups.setdefault(key, []).append(f)
            walls[key] = t.column("wall_sec")[0].as_py()
    return [(k, groups[k], walls[k]) for k in sorted(groups)]


def _drop_newest_half(ck: Path) -> int:
    """Crash stand-in: delete the manifests of the newest half of the
    recorded groups (with their checksum files)."""
    groups = _manifest_groups(ck)
    dropped = groups[len(groups) - len(groups) // 2:]
    for _, files, _ in dropped:
        for f in files:
            f.unlink()
            f.with_name(f".{f.name}.crc").unlink(missing_ok=True)
    return len(dropped)


def _dir_size(*dirs: Path) -> tuple[int, int]:
    files = [f for d in dirs for f in d.rglob("*")
             if f.is_file() and not f.name.startswith((".", "_"))]
    return len(files), sum(f.stat().st_size for f in files)


class _Cli:
    """One ``cli.main validate`` invocation set sharing output dirs."""

    def __init__(self, ctx: Ctx, work: Path, input_path: Path, batches: int):
        self.ctx = ctx
        self.out, self.ck, self.rep = work / "out", work / "ckpt", work / "reports"
        self.argv = ["validate", "--input", str(input_path), "--output", str(self.out),
                     "--checkpoint-dir", str(self.ck), "--shards", str(SHARDS),
                     "--shard-batches", str(batches),
                     "--no-audio", "--json-reports", str(self.rep),
                     "--master", f"local[{ctx.threads}]"]

    def run(self, leg: str, exp: dict) -> tuple[float, dict]:
        from jesse_spark import cli

        buf = io.StringIO()
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(buf):
                rc = cli.main(self.argv)
        except Exception as exc:
            self.ctx.check(False, f"clips CLI {leg} raised {exc!r}"[:300])
            return time.perf_counter() - t0, {}
        wall = time.perf_counter() - t0
        lines = [x for x in buf.getvalue().splitlines() if x.startswith("{")]
        summary = json.loads(lines[-1]) if lines else {}
        self.ctx.check(
            rc == 1 and summary.get("rows") == exp["n"]
            and summary.get("invalid_rows") == exp["invalid_rows"],
            f"clips CLI {leg}: exit {rc}, summary {summary}")
        return wall, summary


def _cli_legs(ctx: Ctx, work: Path, path: Path, exp: dict, want: list):
    """Fresh checkpointed CLI call, crash stand-in, resume call; checks
    both outputs.  Returns (fresh_s, resume_s)."""
    cli_ = _Cli(ctx, work, path, SHARD_BATCHES)
    fresh, s = cli_.run("fresh", exp)
    full = _read_violations(s["violations_path"]) if s else None
    ctx.check(full == want, "clips CLI fresh: violations differ from expected")
    _drop_newest_half(cli_.ck)
    resume, s = cli_.run("resume", exp)
    after = _read_violations(s["violations_path"]) if s else None
    ctx.check(after is not None and after == full,
              "clips CLI resume: violations differ from the uninterrupted run")
    return fresh, resume


def clips(ctx: Ctx):
    from jesse_spark.plans.pipeline import run_full_suite
    from jesse_spark.sources.fixtures import codecs_df

    # the clips are generated (or read from the cache) while the JVM starts
    with ThreadPoolExecutor(1) as gen:
        made = gen.submit(inputs.clips, ctx.cache, ctx.seed, N_CLIPS, 4 * ctx.threads)
        spark, t_session = start_session(ctx)
        t_in = time.perf_counter()
        path, exp = made.result()
    ctx.notes["inputs_wait_s"] = round(time.perf_counter() - t_in, 3)
    exp["n"] = N_CLIPS
    want = [tuple(t) for t in exp["with_audio"]]
    want_cli = [tuple(t) for t in exp["no_audio"]]
    ctx.notes.update(clips=N_CLIPS, shard_batches=SHARD_BATCHES,
                     window_start=inputs.clip_window(ctx.seed, N_CLIPS),
                     golden_gap=exp["golden_gap"], reference_only=exp["reference_only"])
    work = ctx.cache / "cli"
    shutil.rmtree(work, ignore_errors=True)

    t_load = _median_load(lambda: spark.read.parquet(str(path)).count())
    t1 = time.perf_counter()
    codecs = codecs_df(spark)
    table = spark.read.parquet(str(path))
    # warm-up pass doubles as the full output check
    res = run_full_suite(table, codecs)
    got = _triples(res.violations.select("clip_id", "constraint", "path").collect())
    ctx.check(got == want, f"clips warm-up: {len(got)} violations, expected {len(want)}")
    res.validated.unpersist()
    setup_s = t_session + t_load + (time.perf_counter() - t1)
    ctx.mark("setup")

    def one_pass() -> float:
        t = time.perf_counter()
        try:
            r = run_full_suite(table, codecs)
            nv = r.violations.count()
            verd = r.verdicts.collect()
            wall = time.perf_counter() - t
            r.validated.unpersist()
        except Exception as exc:  # a failed pass is counted, not fatal
            ctx.check(False, f"clips pass raised {exc!r}"[:300])
            return time.perf_counter() - t
        rows = sum(v["rows"] for v in verd)
        invalid = sum(v["invalid_rows"] for v in verd)
        ctx.check(nv == len(want) and rows == N_CLIPS and invalid == exp["invalid_rows"],
                  f"clips pass: {nv} violations, {rows} rows, {invalid} invalid")
        return wall

    walls = []
    start = time.perf_counter()
    # a traced run needs one untraced pass as its reference
    while len(walls) < (1 if ctx.trace else MIN_PASSES) or (
            not ctx.trace and time.perf_counter() - start < ctx.seconds):
        walls.append(one_pass())
    # the JIT is still warming through the first passes, so the
    # fastest pass is the one nearest the steady speed
    wall = min(walls)
    ctx.notes["pass_walls_s"] = [round(w, 4) for w in walls]
    ctx.mark("passes")
    if ctx.trace:
        tr, st = Tracer(f"clips-{ctx.seed}"), StageStats()
        suite_layers, suite_traced = _trace_suite(ctx, spark, tr, st, table, codecs, want)

    # the CLI stops the session it runs in, so it comes after the passes
    fresh, resume = _cli_legs(ctx, work / "main", path, exp, want_cli)
    ctx.notes.update(cli_fresh_s=round(fresh, 4), cli_resume_s=round(resume, 4))
    ctx.mark("timed")
    e2e = {"setup_s": setup_s, "wall_s": wall, "items_per_s": N_CLIPS / wall,
           "focus_s": fresh + resume}
    if not ctx.trace:
        return e2e, {}
    cli_layers, cli_traced = _trace_cli(ctx, tr, st, work / "traced", path, exp, want_cli)
    m = _layers(tr, st, suite_traced + cli_traced, wall + fresh + resume,
                **suite_layers, **cli_layers,
                **{"cli.fresh_s": fresh, "plans.checkpoint.resume_s": resume})
    _write_spans(ctx, tr)
    return e2e, m


def _trace_suite(ctx, spark, tr, st, table, codecs, want):
    """One suite pass with each layer forced as its own action, plus
    the in-process per-clip cost of the audio UDF body."""
    from pyspark.sql import functions as F

    from jesse_spark.functions import audio
    from jesse_spark.operators.integrity import ri_violation_rows
    from jesse_spark.operators.uniqueness import uniqueness_violations
    from jesse_spark.plans import pipeline
    from jesse_spark.plans.validate import fail_fast_pred, violation_rows

    tr.count_py4j(_gateway_client())
    _wrap_driver_layers(tr)
    try:
        t0 = time.perf_counter()
        res = pipeline.run_full_suite(table, codecs)   # the traced binding
        checks = tr.captured["compile_checks"][-1]
        preds = tr.captured["check_preds"][-1]
        narrow = res.validated
        with tr.span("plans.validate"):
            narrow.count()
            n_rows = violation_rows(narrow, ["clip_id"]).count()
            verd = res.verdicts.collect()
        inst = F.struct(*[F.col(c) for c in table.columns])
        with tr.span("functions.audio"):
            passing = table.filter(fail_fast_pred(checks, inst, preds)).select(
                "clip_id", "bytes", "codec", "sr_hz", "transcript")
            checked = audio.with_audio_checks(passing).drop("bytes").persist()
            n_pass = checked.count()
            n_audio = audio.audio_violations(checked).count()
            checked.unpersist()
        with tr.span("operators.uniqueness"):
            n_uniq = uniqueness_violations(narrow, "clip_id").count()
        with tr.span("operators.integrity"):
            n_ri = ri_violation_rows(narrow, "codec", codecs).count()
        wall_traced = time.perf_counter() - t0
        narrow.unpersist()
        with tr.span("trace"):
            sample = passing.limit(AUDIO_SAMPLE).toPandas()
            st.harvest(spark.sparkContext, tr.groups - {"trace"})
    finally:
        tr.restore()
    total = n_rows + n_audio + n_uniq + n_ri
    ctx.check(total == len(want) and sum(v["rows"] for v in verd) == N_CLIPS,
              f"clips traced layers: {total} violations, expected {len(want)}")

    k = len(sample)
    cid = sample["clip_id"].to_numpy()
    rw = sample["bytes"].to_numpy(dtype=object)
    cod = sample["codec"].to_numpy()
    sr = sample["sr_hz"].to_numpy()

    def per_clip_us(fn) -> float:
        t = time.perf_counter()
        fn()
        return (time.perf_counter() - t) / k * 1e6

    verify_us = per_clip_us(lambda: audio._verify_batch(
        sample["clip_id"], sample["bytes"], sample["codec"], sample["sr_hz"],
        sample["transcript"]))
    decoded = audio._decode_batch(rw, cod)
    refs = [audio.synth_pcm(cid[i], int(sr[i]), len(decoded[i])) for i in range(k)]
    return {
        "functions.audio.verify_us": verify_us,
        "functions.audio.decode_us": per_clip_us(lambda: audio._decode_batch(rw, cod)),
        "functions.audio.synth_us": per_clip_us(lambda: [
            audio.synth_pcm(cid[i], int(sr[i]), len(decoded[i])) for i in range(k)]),
        "functions.audio.snr_us": per_clip_us(lambda: [
            audio.snr_db(refs[i], decoded[i]) for i in range(k)]),
        "functions.audio.transcript_us": per_clip_us(lambda: [
            audio.reference_transcript(c) for c in cid]),
        "functions.audio.decode_ratio": n_pass / N_CLIPS,
        # JVM stage time of the UDF stage minus the UDF body's own cost
        "functions.audio.boundary_s": st.get("functions.audio", "run_s")
        - n_pass * verify_us * 1e-6,
        "plans.validate.violation_rows": float(n_rows),
    }, wall_traced


def _trace_cli(ctx, tr, st, work, path, exp, want):
    """The fresh + resume CLI legs with spans around compile, suite
    build, the report sinks and the checkpoint manager."""
    from pyspark.sql import DataFrameWriter, SparkSession

    from jesse_spark.plans import checkpoint, report

    _wrap_driver_layers(tr)
    tr.wrap_function(report.per_row_reports, "plans.report")
    tr.wrap_function(checkpoint.shard_verdicts, "plans.checkpoint")
    tr.wrap_function(checkpoint.with_shard, "plans.checkpoint")
    ckroot = str(work / "ckpt")
    for attr in ("record", "completed_shards", "run_totals"):
        tr.wrap_method(checkpoint.CheckpointManager, attr,
                       lambda obj, *a, **kw: "plans.checkpoint")
    for attr in ("parquet", "json"):
        tr.wrap_method(DataFrameWriter, attr, lambda obj, p, *a, **kw: (
            "plans.checkpoint" if str(p).startswith(ckroot) else "plans.report"))
    orig_stop = SparkSession.stop

    def stop(self):     # the status store goes with the context
        st.harvest(self.sparkContext, tr.groups - {"trace"})
        orig_stop(self)

    tr.patch(SparkSession, "stop", stop)
    tr.count_py4j(_gateway_client())
    try:
        t0 = time.perf_counter()
        cli_ = _Cli(ctx, work, path, SHARD_BATCHES)
        with tr.span("cli", group=False):
            cli_.run("traced fresh", exp)
        n_rec_fresh = len(tr.select("plans.checkpoint", "record"))
        t1 = time.perf_counter()
        files, nbytes = _dir_size(cli_.out, cli_.rep)
        group_walls = [w for _, _, w in _manifest_groups(cli_.ck)]
        dropped = _drop_newest_half(cli_.ck)
        t2 = time.perf_counter()
        with tr.span("cli", group=False):
            cli_.run("traced resume", exp)
        wall_traced = (t1 - t0) + (time.perf_counter() - t2)
    finally:
        tr.restore()
    n_rec_resume = len(tr.select("plans.checkpoint", "record")) - n_rec_fresh
    return {
        "plans.report.write_s": tr.total("plans.report", "parquet")
        + tr.total("plans.report", "json"),
        "plans.report.bytes_written": float(nbytes),
        "plans.report.files_written": float(files),
        "plans.checkpoint.record_s": tr.total("plans.checkpoint", "record"),
        "plans.checkpoint.groups": float(n_rec_fresh),
        "plans.checkpoint.group_s": statistics.median(group_walls) if group_walls else 0.0,
        "plans.checkpoint.groups_redone": n_rec_resume / dropped if dropped else 0.0,
    }, wall_traced


def _gateway_client():
    from pyspark import SparkContext

    return SparkContext._gateway._gateway_client


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------
def _canon(df):
    """Order-insensitive canonical form (as tools/check_oracles.py)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return (df.round(6).astype(str)
            .sort_values(by=list(df.columns)).reset_index(drop=True))


def _oracle_answers(corpus: Path) -> dict:
    """Every ``oracle_sql()`` answer, computed by DuckDB on the same
    permuted copy (as tools/check_oracles.py does)."""
    import duckdb

    import __spark_entry__ as entry

    # one thread: the answers are ready before the warm-up ends, and
    # Spark keeps the other cores
    con = duckdb.connect(config={"threads": 1})
    try:
        for t in entry.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
        return {name: con.sql(sql).df() for name, sql in entry.oracle_sql().items()}
    finally:
        con.close()


def _oracle_check(ctx: Ctx, results: list, oracles: dict) -> None:
    for name, got, err in results:
        if err is not None:
            ctx.check(False, f"{name}: spark error {err!r}"[:300])
            continue
        if name not in oracles:
            # rows-only query (none today): it ran; its row count is noted
            ctx.notes.setdefault("rows_only", {})[name] = len(got)
            ctx.check(True, name)
            continue
        exp = oracles[name]
        ok = (sorted(got.columns) == sorted(exp.columns) and len(got) == len(exp)
              and _canon(got).equals(_canon(exp)))
        ctx.check(ok, f"{name}: differs from the DuckDB oracle "
                      f"({len(got)} vs {len(exp)} rows)")


def _warm_up(ctx: Ctx, spark, d: str, qs: dict) -> list:
    """Untimed warm-up: every query once, collected for the oracle
    check, as many at a time as Spark has task threads.  Cold queries
    spend much of their time compiling (JIT, codegen), which the spare
    cores absorb; with 8 queries at a time on 4 task threads the
    compiler fell behind and the first timed round ran 35 % slower
    than the next."""
    def collect(item):
        name, fn = item
        try:
            return name, fn(spark, d).toPandas(), None
        except Exception as exc:
            return name, None, exc

    with ThreadPoolExecutor(ctx.threads) as ex:
        return list(ex.map(collect, qs.items()))


def _import_engine() -> None:
    """Import every engine module up front: queries import operators
    lazily, and first imports racing in warm-up threads can deadlock."""
    import jesse_spark

    for m in pkgutil.walk_packages(jesse_spark.__path__, "jesse_spark."):
        importlib.import_module(m.name)


def corpus(ctx: Ctx):
    import __spark_entry__ as entry

    t_in = time.perf_counter()
    corpus = inputs.corpus(ctx.cache, ctx.seed)
    ctx.notes["inputs_s"] = round(time.perf_counter() - t_in, 3)
    d = str(corpus)
    qs = entry.queries()
    duck = ThreadPoolExecutor(1)
    # DuckDB answers the oracles while the JVM starts and Spark warms up
    oracles = duck.submit(_oracle_answers, corpus)
    try:
        spark, t_session = start_session(ctx)
        _import_engine()
        t_load = _median_load(lambda: [spark.read.parquet(f"{d}/{t}.parquet")
                                       for t in entry.TABLES])
        t1 = time.perf_counter()
        results = _warm_up(ctx, spark, d, qs)
        t2 = time.perf_counter()
        oracles = oracles.result()
    finally:
        duck.shutdown(wait=True)

    _oracle_check(ctx, results, oracles)
    setup_s = t_session + t_load + (time.perf_counter() - t1)
    ctx.notes["setup_parts_s"] = {"session": round(t_session, 3), "load": round(t_load, 3),
                                  "warm_up": round(t2 - t1, 3),
                                  "oracle_wait": round(time.perf_counter() - t2, 3)}
    ctx.mark("setup")

    def run_query(name, fn, tr: Tracer | None) -> float:
        t = time.perf_counter()
        try:
            if tr is None:
                fn(spark, d).write.format("noop").mode("overwrite").save()
            else:
                with tr.span(QUERY_LAYER.get(name, "entry"), what=name):
                    df = fn(spark, d)
                    with tr.span("catalyst"):
                        tr.captured["catalyst"].append(catalyst_phases(df))
                    df.write.format("noop").mode("overwrite").save()
            ctx.check(True, name)
        except Exception as exc:
            ctx.check(False, f"{name} raised {exc!r}"[:300])
        return time.perf_counter() - t

    def one_round(tr: Tracer | None = None) -> dict[str, float]:
        return {name: run_query(name, fn, tr) for name, fn in qs.items()}

    # one timed round: the warm-up leaves no time for a second one
    # within a run (see NOTES.md)
    timed = one_round()
    wall = sum(timed.values())
    near = sum(timed[q] for q in NEAR_DUPS)
    ctx.notes["query_walls_s"] = {q: round(timed[q], 4) for q in qs}
    ctx.mark("timed")
    e2e = {"setup_s": setup_s, "wall_s": wall, "items_per_s": len(qs) / wall,
           "focus_s": near}
    if not ctx.trace:
        return e2e, {}

    from jesse_spark import compiler
    from jesse_spark.operators import dedup
    pv = importlib.import_module("jesse_spark.plans.validate")  # not the re-exported fn

    tr, st = Tracer(f"corpus-{ctx.seed}"), StageStats()
    tr.count_py4j(_gateway_client())
    tr.wrap_function(compiler.compile_checks, "compiler", capture=True)
    for fn in (pv.check_preds, pv.violations_array):
        tr.wrap_function(fn, "plans.validate.preds")
    tr.wrap_function(dedup.minhash_lsh_candidates, "operators.dedup", capture=True)
    tr.wrap_function(dedup.jaccard_verify, "operators.dedup", capture=True)
    try:
        t0 = time.perf_counter()
        one_round(tr)
        wall_traced = time.perf_counter() - t0
        with tr.span("trace"):
            cand = tr.captured["minhash_lsh_candidates"][-1].count()
            verified = tr.captured["jaccard_verify"][-1].count()
            st.harvest(spark.sparkContext, tr.groups - {"trace"})
    finally:
        tr.restore()
    # untraced reference: the rounds either side of the traced one
    wall_plain = (wall + sum(one_round().values())) / 2
    m = _layers(tr, st, wall_traced, wall_plain, **{
        "operators.dedup.candidate_pairs": float(cand),
        "operators.dedup.verified_pairs": float(verified),
        "operators.dedup.verify_yield": verified / cand if cand else 0.0,
        "operators.dedup.near_dups_s": near,
    })
    _write_spans(ctx, tr)
    return e2e, m


def _write_spans(ctx: Ctx, tr: Tracer) -> None:
    out = ctx.cache / "traces"
    out.mkdir(parents=True, exist_ok=True)
    path = out / f"{tr.run_id}.json"
    path.write_text(json.dumps(
        [{k: s[k] for k in ("id", "name", "what", "start", "end", "parent", "run_id", "py4j")}
         for s in tr.spans]))
    ctx.notes["spans_file"] = str(path.relative_to(ctx.root))


WORKLOADS = {"clips": clips, "corpus": corpus}
