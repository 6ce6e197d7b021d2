"""The benchmark's Spark application: one process per workload run.

Sets the engine up, runs the workload's warm-up passes, then measured
passes in a closed loop (one client, each op after the previous one
returns), checks every op's output outside its timing, and writes the
run's raw figures to the JSON file named by its config. With tracing on
it adds one traced pass: spans around each call into the engine, and
Spark job groups per op read back from the event log.

Run by ``run.py``; not meant to be started by hand.
"""

from __future__ import annotations

import contextlib
import gc
import json
import random
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import checks
from spans import Tracer, layer_self_totals

WARMUP_PASSES = 1
WARMUP_THREADS = 3
GRAPH_OPS = (
    "pagerank_top10", "graph_kcore", "graph_sssp_hops",
    "graph_sssp_weighted", "graph_lpa_communities", "bpe_merge_table",
)
N_PROBES = 6
WARMUP_PROBES = 2  # the probe path is warm after its first calls
STREAM_DOCS = 1_000
STREAM_BATCHES = 2
# streaming progress phases (durationMs keys) reported per traced pass
STREAM_PHASES = {
    "addBatch": "streaming.add_batch_s",
    "queryPlanning": "streaming.query_planning_s",
    "walCommit": "streaming.wal_commit_s",
    "commitOffsets": "streaming.commit_offsets_s",
}
# memo dicts a curate_index pass must rebuild; fewer means the memo
# mechanism changed and isolation between passes is no longer known
MIN_CURATE_MEMOS = 1


def memo_dicts() -> list[dict]:
    """Every module-level ``_*_CACHE`` dict of the engine package."""
    found: dict[int, dict] = {}
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("bigdata2016w_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if (attr.startswith("_") and attr.endswith("_CACHE")
                    and isinstance(val, dict)):
                found[id(val)] = val
    return list(found.values())


def memo_entries() -> int:
    return sum(len(d) for d in memo_dicts())


def clear_memos() -> None:
    for d in memo_dicts():
        d.clear()


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class Workload:
    """Base: a list of ops per pass, each returning a value to check."""

    name = ""
    tables: tuple[str, ...] = ()
    memo_min = 0
    op_unit: str | None = None  # the op timed by op_p50_s; None: every op

    def __init__(self, spark, cfg, specs):
        self.spark, self.specs = spark, specs
        self.data = cfg["data"]
        self.seed = cfg["seed"]

    def ops(self, pass_no: int, out: Path):
        raise NotImplementedError

    def chain(self, unit: str) -> str:
        """The chain of ops ``unit`` belongs to: a chain's ops depend on
        each other and run in order; distinct chains do not."""
        return unit

    def prepare_checks(self) -> None:
        """Compute the references from the inputs (untimed, while the
        warm-up passes run)."""

    def check(self, name: str, result) -> str | None:
        raise NotImplementedError

    def trace_counts(self, out: Path, records: list[dict]) -> dict[str, float]:
        return {}


class GraphFixpoint(Workload):
    name = "graph_fixpoint"
    tables = ("orders", "documents")

    def ops(self, pass_no, out):
        order = list(GRAPH_OPS)
        random.Random(f"{self.seed}:{pass_no}").shuffle(order)
        return [(n, n, self._op(n)) for n in order]

    def _op(self, name):
        spec = self.specs[name]

        def run(tr):
            if tr is None:
                df = spec.fn(self.spark, self.data)
                return df.columns, [tuple(r) for r in df.collect()]
            with tr.span("plans.build"):
                df = spec.fn(self.spark, self.data)
            with tr.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("exec.action"):
                rows = df.collect()
            return df.columns, [tuple(r) for r in rows]
        return run

    def prepare_checks(self):
        import pyarrow.parquet as pq

        from bigdata2016w_spark.plans.corpus_ext import BPE_MERGES

        con = checks.duck_connect(self.data, self.tables)
        self.expected = {
            n: checks.oracle_rows(con, self.specs[n].oracle)
            for n in GRAPH_OPS if n != "bpe_merge_table"
        }
        con.close()
        texts = pq.read_table(f"{self.data}/documents.parquet").column("text").to_pylist()
        self.expected["bpe_merge_table"] = (
            ["round", "left", "right", "pair_freq"],
            checks.bpe_merges(texts, BPE_MERGES),
        )

    def check(self, name, result):
        cols, rows = result
        ecols, erows = self.expected[name]
        return checks.same_rows(cols, rows, ecols, erows)


class CurateIndex(Workload):
    name = "curate_index"
    tables = ("documents", "embeddings")
    memo_min = MIN_CURATE_MEMOS
    op_unit = "probe"

    def __init__(self, spark, cfg, specs):
        super().__init__(spark, cfg, specs)
        import gen
        from bigdata2016w_spark.sources.catalog import load_table

        self.emb = load_table(spark, self.data, "embeddings")
        self.probe_ids = random.Random(self.seed).sample(
            range(gen.SIZES["embeddings"]), N_PROBES)
        self.stream_in = Path(cfg["work"]) / "stream"
        gen.write_stream_batches(Path(self.data) / "documents.parquet",
                                 self.stream_in, self.seed,
                                 STREAM_DOCS, STREAM_BATCHES)

    def ops(self, pass_no, out):
        probes = self.probe_ids[:WARMUP_PROBES] if pass_no < WARMUP_PASSES else self.probe_ids
        ops = [("export", "export", lambda tr: self._export(tr, out)),
               ("write_ivfpq_index", "write_ivfpq_index",
                lambda tr: self._index(tr, out))]
        ops += [("probe", f"probe{q}", self._probe(q, out)) for q in probes]
        ops.append(("admit", "admit", lambda tr: self._admit(tr, out)))
        return ops

    def chain(self, unit):
        # probes read the index the pass has just written
        return "write_ivfpq_index" if unit == "probe" else unit

    def _export(self, tr, out):
        from bigdata2016w_spark import cli

        argv = ["export", str(out / "export"), "--sf-dir", self.data]
        with (tr.span("cli.export") if tr else contextlib.nullcontext()):
            rc = cli.main(argv)
        if rc != 0:
            raise RuntimeError(f"export exited {rc}")
        return out / "export"

    def _index(self, tr, out):
        from bigdata2016w_spark.operators.similarity import validated_embeddings
        from bigdata2016w_spark.sources.sinks import write_ivfpq_index

        valid = validated_embeddings(self.emb)
        with (tr.span("sinks.write_ivfpq_index") if tr else contextlib.nullcontext()):
            write_ivfpq_index(valid, str(out / "index"))
        return out / "index"

    def _probe(self, qid, out):
        from pyspark.sql import functions as F

        from bigdata2016w_spark.operators.similarity import knn_ivfpq_from_index

        def run(tr):
            queries = self.emb.where(F.col("vec_id") == qid)
            if tr is None:
                df = knn_ivfpq_from_index(self.spark, str(out / "index"), queries)
                return qid, [tuple(r) for r in df.collect()]
            with tr.span("similarity.probe"):
                df = knn_ivfpq_from_index(self.spark, str(out / "index"), queries)
            with tr.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("exec.action"):
                rows = df.collect()
            return qid, [tuple(r) for r in rows]
        return run

    def _admit(self, tr, out):
        from bigdata2016w_spark.streaming.ingest import dedup_admission_sink

        src = (self.spark.readStream.schema("doc_id bigint, text string")
               .option("maxFilesPerTrigger", "1")
               .parquet(str(self.stream_in)))
        q = dedup_admission_sink(src, str(out / "accepted"),
                                 str(out / "admit_checkpoint"))
        if tr is not None:
            # the stream's jobs run under its own job group, the run id
            tr.current().attrs["groups"] = [str(q.runId)]
        q.awaitTermination()
        return out / "accepted", [
            p.durationMs for p in q.recentProgress if p.numInputRows > 0]

    def prepare_checks(self):
        import pyarrow.parquet as pq

        from bigdata2016w_spark.operators.similarity import (
            knn_ivf_pq_residual,
            validated_embeddings,
        )
        from bigdata2016w_spark.plans.pipeline import QUALITY_MIN

        docs = pq.read_table(f"{self.data}/documents.parquet").to_pydict()
        texts = dict(zip(docs["doc_id"], docs["text"]))
        # corpus_curation = quality gate minus the higher id of every
        # near-duplicate pair; its own oracle SQL repeats the O(n^2) pair
        # join, so the pairs come from checks.near_dup_pairs instead
        pairs = checks.near_dup_pairs(texts)
        losers = {b for _, b in pairs}
        con = checks.duck_connect(self.data, ("documents",))
        cols, rows = checks.oracle_rows(con, self.specs["doc_stats"].oracle)
        scols, srows = checks.oracle_rows(con, self.specs["doc_train_test_split"].oracle)
        con.close()
        split = {r[scols.index("doc_id")]: r[scols.index("split")] for r in srows}
        i_id, i_tok, i_q = (cols.index(c) for c in ("doc_id", "n_tokens", "quality"))
        kept = {r[i_id]: r for r in rows
                if r[i_q] >= QUALITY_MIN and r[i_id] not in losers}
        self.expected_export = {"total_docs": len(texts)}
        for part in ("train", "test"):
            ids = {d for d in kept if split[d] == part}
            q = [float(kept[d][i_q]) for d in ids]
            self.expected_export[part] = {
                "ids": ids,
                "n_docs": len(ids),
                "n_tokens": sum(int(kept[d][i_tok]) for d in ids),
                "mean_quality": sum(q) / len(q) if q else 0.0,
            }
        ref = knn_ivf_pq_residual(
            validated_embeddings(self.emb), self.probe_ids, validated=True).collect()
        self.expected_probe = {q: [] for q in self.probe_ids}
        for r in ref:
            self.expected_probe[r["query_id"]].append(tuple(r))
        batches = []
        for f in sorted(self.stream_in.glob("*.parquet")):
            t = pq.read_table(f)
            batches.append(dict(zip(t.column("doc_id").to_pylist(),
                                    t.column("text").to_pylist())))
        self.expected_admitted = checks.admitted(batches)

    def check(self, name, result):
        import pyarrow.parquet as pq

        if name == "export":
            card = json.loads((result / "datacard.json").read_text())
            exp = self.expected_export
            if card["total_docs"] != exp["total_docs"]:
                return f"total_docs {card['total_docs']} != {exp['total_docs']}"
            for part in ("train", "test"):
                ids = set(pq.read_table(result / part, columns=["doc_id"])
                          .column("doc_id").to_pylist())
                e, c = exp[part], card[part]
                if ids != e["ids"]:
                    return f"{part} doc ids differ: {len(ids)} vs {len(e['ids'])}"
                if (c["n_docs"], c["n_tokens"]) != (e["n_docs"], e["n_tokens"]):
                    return f"{part} datacard {c} != {e['n_docs']}, {e['n_tokens']}"
                if abs(c["mean_quality"] - e["mean_quality"]) > 1e-4:
                    return f"{part} mean_quality {c['mean_quality']} != {e['mean_quality']}"
            return None
        if name == "admit":
            path, progress = result
            if len(progress) != STREAM_BATCHES:
                return f"{len(progress)} micro-batches, expected {STREAM_BATCHES}"
            ids = set(pq.read_table(path, columns=["doc_id"])
                      .column("doc_id").to_pylist())
            if ids != self.expected_admitted:
                return (f"accepted {len(ids)} docs, expected "
                        f"{len(self.expected_admitted)} (sets differ)")
            return None
        if name == "write_ivfpq_index":
            # the index is checked through the probes served from it
            return None if (result / "codes").is_dir() else "no codes written"
        qid, rows = result
        cols = ["query_id", "vec_id", "adc_d2"]
        return checks.same_rows(cols, rows, cols, self.expected_probe[qid])

    def trace_counts(self, out, records):
        from bigdata2016w_spark.operators.dedup import jaccard_near_dupes
        from bigdata2016w_spark.sources.catalog import load_table

        m: dict = {}
        jaccard_near_dupes(load_table(self.spark, self.data, "documents"),
                           metrics=m).count()
        cand, ver = m["candidates"].get["n"], m["verified"].get["n"]
        inputs = sum(Path(f"{self.data}/{t}.parquet").stat().st_size
                     for t in self.tables)
        outputs = sum(dir_bytes(out / d) for d in ("export", "index", "accepted"))
        stream = dict.fromkeys(STREAM_PHASES.values(), 0.0)
        for r in records:
            if r["unit"] == "admit" and r["error"] is None:
                for progress in r["result"][1]:
                    for phase, key in STREAM_PHASES.items():
                        stream[key] += progress.get(phase, 0) / 1000
        return {
            **stream,
            "dedup.candidates": cand,
            "dedup.verified": ver,
            "dedup.verify_yield": ver / cand if cand else 0.0,
            "sinks.bytes_per_input_byte": outputs / inputs,
        }


WORKLOADS = {w.name: w for w in (GraphFixpoint, CurateIndex)}


class Runner:
    def __init__(self, spark, workload: Workload, work: Path):
        self.w, self.work = workload, work
        self.sc = spark.sparkContext
        self.records: list[dict] = []   # one per op execution
        self.passes: list[dict] = []

    def run_pass(self, kind: str, tr: Tracer | None) -> dict:
        pass_no = len(self.passes)
        out = self.work / f"pass{pass_no}"
        clear_memos()
        gc.collect()
        self.sc._jvm.System.gc()
        ops = self.w.ops(pass_no, out)
        t0 = time.perf_counter()
        if kind == "warmup":
            # a warm-up pass only has to load, compile and start what the
            # ops use, so its chains of dependent ops run side by side
            chains: dict[str, list] = {}
            for op in ops:
                chains.setdefault(self.w.chain(op[0]), []).append(op)
            with ThreadPoolExecutor(WARMUP_THREADS) as pool:
                for f in [pool.submit(self._run_chain, kind, tr, pass_no, c)
                          for c in chains.values()]:
                    f.result()
        else:
            self._run_chain(kind, tr, pass_no, ops)
        p = {"kind": kind, "wall": time.perf_counter() - t0,
             "memo_entries": memo_entries(), "out": out}
        if p["memo_entries"] < self.w.memo_min:
            raise RuntimeError(
                f"{self.w.name} pass built {p['memo_entries']} memo entries, "
                f"expected at least {self.w.memo_min}: memo isolation between "
                "passes can no longer be checked")
        self.passes.append(p)
        return p

    def _run_chain(self, kind, tr, pass_no, ops) -> None:
        for unit, name, fn in ops:
            tag = f"p{pass_no}:{name}"
            if tr is not None:
                self.sc.setJobGroup(tag, tag)
            ts = time.perf_counter()
            try:
                with (tr.span(f"op.{unit}", tag=tag) if tr else contextlib.nullcontext()):
                    result, error = fn(tr), None
            except Exception as exc:  # an op failure is counted, not fatal
                result, error = None, f"{type(exc).__name__}: {exc}"
            dt = time.perf_counter() - ts
            if tr is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.records.append({"kind": kind, "unit": unit, "name": name,
                                 "tag": tag, "wall": dt,
                                 "result": result, "error": error})

    def check_all(self) -> tuple[int, int]:
        failed = 0
        for r in self.records:
            if r["error"] is None:
                r["error"] = self.w.check(r["unit"], r["result"])
            if r["error"] is not None:
                failed += 1
                print(f"FAILED {r['tag']}: {r['error']}", file=sys.stderr)
        return len(self.records), failed


def traced_layers(runner: Runner, tr: Tracer, log_dir: Path) -> dict[str, float]:
    import evlog

    groups = evlog.group_totals(evlog.read_events(evlog.event_log_file(log_dir)))
    traced = [p for p in runner.passes if p["kind"] == "traced"]
    recs = [r for r in runner.records if r["kind"] == "traced"]
    out = dict.fromkeys(evlog.GROUP_KEYS, 0.0)
    op_spans = [s for s in tr.spans if s.name.startswith("op.")]
    residual = 0.0
    for s in op_spans:
        tags = (s.attrs["tag"], *s.attrs.get("groups", ()))
        tagged = [groups.get(t, {}) for t in tags]
        for g in tagged:
            for k in out:
                out[k] += g.get(k, 0.0)
        job_wall = sum(g.get("spark.job_wall_s", 0.0) for g in tagged)
        residual += (s.end - s.start) - job_wall
    out["spark.driver_residual_s"] = residual
    n = len(traced)
    out = {k: v / n for k, v in out.items()}
    layers = layer_self_totals(tr.spans)
    for name in ("plans.build", "catalyst.plan", "exec.action", "cli.export",
                 "sinks.write_ivfpq_index", "similarity.probe"):
        out[f"{name}_s"] = layers.get(name, 0.0) / n
    by_op: dict[str, list[float]] = {}
    for r in recs:
        by_op.setdefault(r["unit"], []).append(r["wall"])
    for unit, walls in by_op.items():
        out[f"op.{unit}_s"] = statistics.median(walls)
    out["plans.memo_entries"] = statistics.median(p["memo_entries"] for p in traced)
    return out


def main() -> int:
    cfg = json.loads(Path(sys.argv[1]).read_text())
    sys.stdout = sys.stderr  # the engine's CLI prints; keep stdout for nothing
    work = Path(cfg["work"])
    trace = bool(cfg["trace"])
    setup = Tracer()
    with setup.span("setup.imports"):
        from bigdata2016w_spark.registry import all_specs
        from bigdata2016w_spark.session import get_spark
        from bigdata2016w_spark.sources.catalog import load_table
    log_dir = work / "eventlog"
    conf = {}
    if trace:
        log_dir.mkdir(parents=True, exist_ok=True)
        conf = {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"}
    with setup.span("session.get_spark"):
        spark = get_spark(app_name=f"perfbench-{cfg['workload']}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    with setup.span("session.first_action"):
        spark.range(1000).selectExpr("sum(id)").collect()
    with setup.span("registry.all_specs"):
        specs = all_specs()
    wl_cls = WORKLOADS[cfg["workload"]]
    with setup.span("sources.first_load"):
        for t in wl_cls.tables:
            load_table(spark, cfg["data"], t).count()
    setup_s = time.time() - cfg["spawn"]

    phases = {"setup": setup_s}
    tick = time.time()

    def phase(name):
        nonlocal tick
        phases[name] = time.time() - tick
        tick = time.time()

    runner = Runner(spark, wl_cls(spark, cfg, specs), work)
    # the references depend only on the inputs: they are computed while
    # the untimed warm-up passes run
    with ThreadPoolExecutor(1) as pool:
        refs = pool.submit(runner.w.prepare_checks)
        for _ in range(WARMUP_PASSES):
            runner.run_pass("warmup", None)
        refs.result()
    phase("warmup")
    elapsed = 0.0
    while True:  # whole passes while the next one still fits
        p = runner.run_pass("measured", None)
        elapsed += p["wall"]
        if elapsed + p["wall"] > cfg["seconds"]:
            break
    phase("measured")
    tr = Tracer()
    if trace:
        runner.run_pass("traced", tr)
        counts = runner.w.trace_counts(
            runner.passes[-1]["out"],
            [r for r in runner.records if r["kind"] == "traced"])
        phase("traced")
    attempted, failed = runner.check_all()
    phase("checks")

    measured = [r for r in runner.records if r["kind"] == "measured"]
    by_name: dict[str, list[float]] = {}
    for r in measured:
        by_name.setdefault(r["name"], []).append(r["wall"])
    result = {
        "setup_s": setup_s,
        "pass_walls": [p["wall"] for p in runner.passes if p["kind"] == "measured"],
        "op_walls": [r["wall"] for r in measured
                     if runner.w.op_unit in (None, r["unit"])],
        "attempted": attempted,
        "failed": failed,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "spark_version": spark.version,
        "setup_spans": {s.name + "_s": s.end - s.start for s in setup.spans},
        "phases": phases,
        "op_median_s": {n: statistics.median(w) for n, w in by_name.items()},
    }
    spark.stop()  # finishes the event log
    phase("stop")
    if trace:
        layers = traced_layers(runner, tr, log_dir)
        layers.update(counts)
        traced_wall = [p["wall"] for p in runner.passes if p["kind"] == "traced"]
        layers["trace.overhead_frac"] = (
            statistics.median(traced_wall) / statistics.median(result["pass_walls"]) - 1)
        result["layers"] = layers
    Path(cfg["result"]).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
