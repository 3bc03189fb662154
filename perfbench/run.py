#!/usr/bin/env python3
"""The repository benchmark: the KG pipeline fresh and resumed, and
extraction scaling from N to 4N cores. See perfbench/README.md.

    python3 perfbench/run.py --workload pipeline --seed 0 --seconds 10 --trace 0

Builds the program first (perfbench/build.py). Prints a summary of every
metric with its unit on stderr, and as the last line of stdout one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics; with --trace 1 the per-layer metrics
of the traced replay. Exits non-zero when an output check fails.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

import duckdb  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("pipeline", "extract_scaling")
PIN_DATE = "2025-01-01"          # privacy cutoff date; never the wall clock
PIPELINE_DOCS = 500              # the 0.001 scale factor of the reference corpus
LEVEL_DOCS = 24000               # extraction-scaling corpus
LEVEL_PARTITIONS = 16
LEVEL_WARMUP_S = 3.0             # untimed extraction jobs before the timed loop
TRACED_LEVEL_S = (1.0, 1.0)      # traced run: warm-up and timed seconds per level
PIPELINE_HEAP = "3g"
LEVEL_HEAP = "2g"
DEADLINE_S = 175                 # the whole run, build excluded

END_TO_END = {                   # name -> unit
    "op_s": "s", "docs_per_s": "docs/s", "setup_s": "s", "peak_rss_mb": "MB",
}
STAGES = ["camps", "schema", "extract", "extract_errors", "pruned", "linked", "media",
          "person_links", "sourced", "canonical", "record_frame", "events", "final"]
LINK_TASKS = ["ranks", "camps", "municipalities", "pnr", "occupations", "units",
              "magazines", "person_docs", "videos", "sources"]
OPS_QUERIES = [
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash", "dedup_groups",
    "embed_cosine_topk", "embed_cosine_lsh", "embed_cosine_ivf", "embed_selfjoin_lsh",
    "j9_pair_score", "text_token_count", "text_quality", "text_quality_filter", "text_lang_id",
    "text_pii_scrub", "text_vocab_topk", "text_repetition", "text_fingerprint",
    "events_sessionize", "events_stream_sessionize", "events_stream_tumbling",
    "events_tumbling_window", "asof_join_snapshots", "range_join_intervals", "media_features",
    "kg_triples", "kg_errors"]


def per_layer_units():
    u = {}
    for st in STAGES:
        u[f"pipeline.{st}.s"] = "s"
        u[f"pipeline.{st}.jobs"] = "count"
        u[f"pipeline.{st}.bytes"] = "B"
    u.update({"pipeline.wall_s": "s", "pipeline.manifest_gap_s": "s",
              "pipeline.unattributed_s": "s", "pipeline.resume_overhead_s": "s",
              "pipeline.write_s": "s", "pipeline.read_s": "s", "pipeline.shuffle_bytes": "B"})
    u.update({"extract.triples_s": "s", "extract.errors_s": "s", "extract.camps_s": "s",
              "extract.schema_s": "s", "extract.shuffle_bytes": "B",
              "extract.docs_per_s_n": "docs/s", "extract.task_s_n": "s",
              "extract.task_s_4n": "s", "extract.task_skew": "ratio",
              "extract.scaling_efficiency": "ratio", "extract.trace_overhead_s": "s"})
    u["gazetteer.build_s"] = "s"
    u.update({"privacy.prune_s": "s", "privacy.rows_removed": "count",
              "privacy.shuffle_bytes": "B"})
    for t in LINK_TASKS:
        u[f"link.{t}_s"] = "s"
        u[f"link.{t}.links"] = "count"
    u["link.shuffle_bytes"] = "B"
    u.update({"erlink.candidates_s": "s", "erlink.candidate_pairs": "count",
              "erlink.link_persons_s": "s", "erlink.links": "count",
              "erlink.shuffle_bytes": "B"})
    u.update({"canon.components_s": "s", "canon.components": "count",
              "canon.canonicalize_s": "s", "canon.shuffle_bytes": "B"})
    u.update({"events.record_frame_s": "s", "events.construct_s": "s",
              "events.shuffle_bytes": "B"})
    for q in OPS_QUERIES:
        u[f"ops.{q}_s"] = "s"
    u["ops.sql_s"] = "s"
    for f in ["dedup", "similarity", "text", "events", "kg", "sql"]:
        u[f"ops.{f}.jobs"] = "count"
    return u


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class Run:
    def __init__(self, args, classes):
        self.args = args
        self.classes = classes
        self.start = time.time()
        self.nproc = len(os.sched_getaffinity(0))
        self.dir = build.OUT / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        shutil.rmtree(self.dir, ignore_errors=True)
        (self.dir / "tmp").mkdir(parents=True)
        self.failures = []
        self.attempted = 0
        self.failed = 0
        self.jvms = []

    def remaining(self):
        return DEADLINE_S - (time.time() - self.start)

    def java(self, name, main, heap, opts, jvm_args):
        """Runs one benchmark JVM to completion; returns its result JSON."""
        result = self.dir / f"{name}.json"
        log = self.dir / f"{name}.log"
        cmd = (["java"] + ADD_OPENS + [f"-Xms{heap}", f"-Xmx{heap}",
                                      f"-Djava.io.tmpdir={self.dir / 'tmp'}"]
               + opts + ["-cp", build.classpath(self.classes), main, "--result", str(result),
                         "--tmp", str(self.dir / "tmp"), "--run-id", self.dir.name,
                         "--launched-ms", str(int(time.time() * 1000))]
               + [str(x) for x in jvm_args])
        load_before, t0 = os.getloadavg()[0], time.time()
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=max(1.0, self.remaining()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
        self.jvms.append({"name": name, "heap": heap, "opts": opts, "exit": code,
                          "seconds": time.time() - t0,
                          "load_before": load_before, "load_after": os.getloadavg()[0]})
        if code != 0 or not result.is_file():
            tail = log.read_text(errors="replace").splitlines()[-40:]
            sys.stderr.write("\n".join(tail) + "\n")
            raise SystemExit(f"perfbench: {name} JVM failed ({code}); log {log}")
        return json.loads(result.read_text())

    def check(self, cond, msg):
        if not cond:
            self.failures.append(msg)
            sys.stderr.write(f"[perfbench] CHECK FAILED: {msg}\n")
        return cond

    def count_ops(self, ops):
        self.attempted += len(ops)
        self.failed += sum(1 for o in ops if not o["ok"])

    # ---- inputs -------------------------------------------------------
    def documents(self, name, n, files=1):
        d = self.dir / name
        d.mkdir()
        inputs.write_documents(str(d / "documents.parquet"), self.args.seed, n,
                               inputs.doc_id_offset(self.args.seed), files)
        return d

    @staticmethod
    def oracle(con, docs_dir, sql):
        src = Path(docs_dir) / "documents.parquet"
        pattern = src / "*.parquet" if src.is_dir() else src
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{pattern}')")
        con.execute(f"CREATE OR REPLACE TABLE oracle AS {sql}")

    # ---- workloads ----------------------------------------------------
    def pipeline(self, trace, level_docs=None):
        docs = self.documents("pipeline_input", PIPELINE_DOCS)
        jvm_args = ["--input", docs, "--work", self.dir / "work", "--seconds", self.args.seconds,
                    "--trace", int(trace), "--date", PIN_DATE, "--cores", self.nproc,
                    "--seed", self.args.seed, "--spans", self.dir / "spans_pipeline.json"]
        if trace:
            ops_in = self.dir / "ops_input"
            ops_in.mkdir()
            inputs.write_operator_tables(str(ops_in))
            jvm_args += ["--ops-input", ops_in, "--level-input", level_docs,
                         "--level-partitions", LEVEL_PARTITIONS,
                         "--level-table", self.dir / "level_table"]
        prep_s = time.time() - self.start
        r = self.java("pipeline", "perfbench.PipelineRun", PIPELINE_HEAP, [], jvm_args)
        ops = [r["fresh"]] + r["ops"]
        self.count_ops(ops)
        for f in r["failures"]:
            self.check(False, f)

        # the extract snapshot against the DuckDB kg_triples oracle
        con = duckdb.connect()
        self.oracle(con, docs, r["oracle_sql"])
        con.execute(f"""CREATE TABLE snap AS SELECT subj, pred, "objValue",
            CAST("objIsUri" AS BIGINT) AS "objIsUri", coalesce("objLang", '') AS "objLang",
            coalesce("objDatatype", '') AS "objDatatype", "docId"
            FROM read_parquet('{r["workdir"]}/extract/*/*.parquet')""")
        n_o, n_s, o_only, s_only = con.execute("""SELECT
            (SELECT count(*) FROM oracle), (SELECT count(*) FROM snap),
            (SELECT count(*) FROM (SELECT * FROM oracle EXCEPT ALL SELECT * FROM snap)),
            (SELECT count(*) FROM (SELECT * FROM snap EXCEPT ALL SELECT * FROM oracle))""").fetchone()
        self.attempted += 1
        if not self.check(n_o == n_s and o_only == 0 and s_only == 0,
                          f"extract snapshot != kg_triples oracle: oracle={n_o} snapshot={n_s} "
                          f"oracle_only={o_only} snapshot_only={s_only}"):
            self.failed += 1

        expected = json.loads((Path(__file__).parent / "expected.json").read_text())["pipeline"]
        if str(self.args.seed) in expected:
            want = expected[str(self.args.seed)]
            self.attempted += 1
            if not self.check(r["digest"] == want["digest"]
                              and r["final_triples"] == want["final_triples"],
                              f"final store {r['final_triples']} triples, digest {r['digest']}; "
                              f"pinned {want}"):
                self.failed += 1

        metrics = {"op_s": r["op_s"], "docs_per_s": r["docs"] / r["first_op_s"],
                   "setup_s": prep_s + r["setup_s"],
                   "peak_rss_mb": r["peak_rss_mb"]}
        return metrics, r

    def levels(self, trace, docs=None):
        """The untraced workload times the 4N level only: the N level feeds no
        end-to-end metric. The traced run times one JVM per level, alternating
        their order with the seed, and reads the doc table the pipeline JVM
        wrote."""
        n = max(1, self.nproc // 4)
        if trace:
            runs = [n, 4 * n] if self.args.seed % 2 == 0 else [4 * n, n]
            warmup, seconds = TRACED_LEVEL_S
        else:
            runs = [4 * n]
            warmup, seconds = LEVEL_WARMUP_S, self.args.seconds
        if docs is None:
            docs = self.documents("level_input", LEVEL_DOCS, LEVEL_PARTITIONS)
        prep_s = time.time() - self.start
        levels = [self.java(f"level{c}", "perfbench.ExtractLevel", LEVEL_HEAP,
                            [f"-XX:ActiveProcessorCount={c}"],
                            ["--cores", c, "--input", docs, "--seconds", seconds,
                             "--warmup", warmup, "--trace", int(trace),
                             "--partitions", LEVEL_PARTITIONS, "--table", self.dir / "level_table"])
                  for c in runs]
        con = duckdb.connect()
        self.oracle(con, docs, levels[0]["oracle_sql"])
        want = con.execute("SELECT count(*) FROM oracle").fetchone()[0]
        for r in levels:
            ops = [r["cold"]] + r["ops"] + r.get("traced_ops", [])
            self.count_ops(ops)
            bad = [k for k in r["counts"] if k != want]
            self.failed += len(bad)
            self.check(not bad, f"{r['cores']}-core extraction: {len(bad)} of {len(ops)} jobs "
                                f"gave triple counts {sorted(set(bad))}, the oracle {want}")
        hi = next(r for r in levels if r["cores"] == 4 * n)
        metrics = {"op_s": hi["op_s"], "docs_per_s": hi["docs"] / hi["op_s"],
                   "setup_s": prep_s + hi["setup_s"], "peak_rss_mb": hi["peak_rss_mb"]}
        layer = {}
        if trace:
            lo = next(r for r in levels if r["cores"] == n)
            layer = {"extract.docs_per_s_n": lo["docs"] / lo["op_s"],
                     "extract.scaling_efficiency": (hi["docs"] / hi["op_s"])
                     / (4 * lo["docs"] / lo["op_s"]),
                     "extract.task_s_n": lo["task_s"], "extract.task_s_4n": hi["task_s"],
                     "extract.task_skew": hi["task_skew"],
                     "extract.trace_overhead_s": hi["trace_overhead_s"]}
        return metrics, layer, {"cores": runs, "levels": levels}

    def provenance(self):
        sha = None
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                                 capture_output=True).stdout.strip() or None
        except OSError:
            pass
        return {"git_sha": sha, "source_stamp": (build.OUT / "classes.stamp").read_text(),
                "nproc": self.nproc, "pinned_date": PIN_DATE, "seed": self.args.seed,
                "workload": self.args.workload, "trace": self.args.trace,
                "seconds": self.args.seconds, "pipeline_docs": PIPELINE_DOCS,
                "level_docs": LEVEL_DOCS, "jvms": self.jvms,
                "load_at_end": os.getloadavg()[0]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build.build()
    run = Run(args, classes)
    artifact = {}
    if args.trace == 0:
        if args.workload == "pipeline":
            metrics, artifact["pipeline"] = run.pipeline(trace=False)
        else:
            metrics, _, artifact["extract_scaling"] = run.levels(trace=False)
        units = END_TO_END
    else:
        # the traced run replays every layer, whichever workload is named
        level_docs = run.documents("level_input", LEVEL_DOCS, LEVEL_PARTITIONS)
        _, p = run.pipeline(trace=True, level_docs=level_docs)
        _, layer, artifact["extract_scaling"] = run.levels(trace=True, docs=level_docs)
        artifact["pipeline"] = p
        metrics = dict(p["per_layer"])
        metrics.update(layer)
        units = per_layer_units()
        run.check(set(metrics) == set(units),
                  f"per-layer metrics missing {sorted(set(units) - set(metrics))}, "
                  f"unexpected {sorted(set(metrics) - set(units))}")
    artifact["provenance"] = run.provenance()
    artifact["failures"] = run.failures
    out = {"correct": not run.failures, "attempted": run.attempted, "failed": run.failed,
           "metrics": {k: {"value": metrics[k], "unit": units[k]}
                       for k in units if k in metrics}}
    artifact["result"] = out
    arts = build.OUT / "artifacts"
    arts.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(run.start)}"
    (arts / f"{name}.json").write_text(json.dumps(artifact, indent=1, default=str))
    for spans in run.dir.glob("spans_*.json"):
        shutil.copy(spans, arts / f"{name}-{spans.name}")
    shutil.rmtree(run.dir, ignore_errors=True)
    for k, v in out["metrics"].items():
        sys.stderr.write(f"[perfbench] {args.workload} {k} = {v['value']:.6g} {v['unit']}\n")
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
