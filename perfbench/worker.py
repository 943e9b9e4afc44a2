"""The measured process: one workload on one ``local[2]`` session.

Started by ``run.py`` in a fresh session; never run by hand. It
reports to its parent as JSON lines on ``--control-fd`` and writes nothing
else to stdout (its stdout is the parent's stderr):

``session``  the session is up;
``ready``    the warm-up full run is done and checked (end of set-up);
``start``    a timed iteration over ``docs`` documents begins;
``iter``     that iteration ended: walls and failed docs;
``timed_end`` the timed phase is over;
``trace``    per-layer metrics of the traced run.

Untraced (``--trace 0``): timed iterations of the workload's full run and
its recovery run; the first ``min_iters`` run unless they are expected to
end after the run's ``--budget``, later ones only if they are expected to
end within ``--seconds`` too. Each timed call starts after
a garbage collection in the driver and the JVM, and each iteration is
checked against the oracle after its timers stop.

Traced (``--trace 1``): the cumulative layer prefixes, each labelled with
``setJobGroup`` and written to a ``noop`` sink, then one full run with the
event log attached and one with it detached. Layer self time is
prefix(k) − prefix(parent of k); executor figures come from the event log
(``eventlog.py``) and CPU of the JVM plus Python workers from ``/proc``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import glob
import io
import json
import os
import random
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(REPO), str(REPO / "tests")]

import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import DataFrame, Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import check  # noqa: E402
import procfs  # noqa: E402
import eventlog  # noqa: E402
from amazon_textract_transformer_pipeline_spark.config import (  # noqa: E402
    DEMO_CONFIG,
    field_config_df,
)
from amazon_textract_transformer_pipeline_spark.operators.assembly import (  # noqa: E402
    assemble_text,
    pages_view,
    words_view,
)
from amazon_textract_transformer_pipeline_spark.operators.consolidate import (  # noqa: E402
    consolidate_fields,
)
from amazon_textract_transformer_pipeline_spark.operators.enrich import (  # noqa: E402
    stub_predictions,
)
from amazon_textract_transformer_pipeline_spark.operators.entities import (  # noqa: E402
    extract_mentions,
)
from amazon_textract_transformer_pipeline_spark.operators.frontend import (  # noqa: E402
    html_to_words,
)
from amazon_textract_transformer_pipeline_spark.operators.inference import (  # noqa: E402
    enrich_words_with_model,
)
from amazon_textract_transformer_pipeline_spark.operators.splitting import (  # noqa: E402
    split_pages_to_windows,
)
from amazon_textract_transformer_pipeline_spark.plans.lineage import (  # noqa: E402
    LineageStore,
)
from amazon_textract_transformer_pipeline_spark.plans.partitioning import (  # noqa: E402
    sort_by_cost_bucket,
)
from amazon_textract_transformer_pipeline_spark.plans.pipeline import (  # noqa: E402
    extract_pipeline,
    extraction_stage_for_lineage,
)
from amazon_textract_transformer_pipeline_spark.session import get_spark  # noqa: E402
from amazon_textract_transformer_pipeline_spark.sources.warc import (  # noqa: E402
    read_warc,
)

#: share of the finished output lost before the recovery phase
LOST_SHARE = 0.25
N_BUCKETS = 16
#: mention columns consolidation reads; the full run prunes the rest, so
#: the entities prefix does too (and consolidate's shuffle delta stays exact)
MENTION_COLS = ("url", "ClassId", "Text", "Confidence", "ixe")


def log(*a) -> None:
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def settle(spark) -> None:
    """Collect garbage in the driver and the JVM before a timed call, so
    each call starts from the same heap state instead of paying for the
    garbage of the calls before it. On a 4-vCPU machine, ten crawl calls
    in one session fell from 9.2 s to 4.7 s without this, and held at
    5.5-6.5 s from the second call on with it."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _text_bytes():
    return F.sum(F.octet_length("extracted_text")).alias("n")


def _words_out():
    return F.sum(F.aggregate("pages", F.lit(0),
                             lambda a, p: a + F.size(p.words))).alias("n")


def _rows_out():
    return F.count(F.lit(1)).alias("n")


def _sql_stub_layers(spark, pages, source: str, obs: dict) -> list[tuple]:
    """The cumulative prefixes front-end → consolidation over ``pages()``
    (a fresh DataFrame per call), composed as ``extract_pipeline`` composes
    them for the sql-stub model; the front-end's parent is ``source``."""
    cfg = field_config_df(spark, DEMO_CONFIG)

    def words():
        return html_to_words(pages())

    def mentions():
        return extract_mentions(stub_predictions(words_view(words())), cfg)

    return [
        ("frontend", source, lambda: _noop(
            words().observe(obs["frontend"], _words_out()))),
        ("assembly", "frontend", lambda: _noop(
            assemble_text(words()).observe(obs["assembly"], _text_bytes()))),
        ("enrich", "frontend", lambda: _noop(
            stub_predictions(words_view(words())))),
        ("entities", "enrich", lambda: _noop(
            mentions().select(*MENTION_COLS)
            .observe(obs["entities"], _rows_out()))),
        ("consolidate", "entities", lambda: _noop(consolidate_fields(
            mentions(), cfg, pages().select("url"))
            .observe(obs["consolidate"], _rows_out()))),
    ]


class Workload:
    """Staged inputs, one checked full run (and recovery), layer prefixes."""

    kind = ""
    #: docs per run checked value-exact against tests/ref_rules.py
    ref_sample = 0
    #: timed iterations run even when they overrun ``--seconds``
    min_iters = 1

    def __init__(self, spark, stage_dir: str, work_dir: str, seed: int):
        self.spark = spark
        self.input = os.path.join(stage_dir, "input")
        self.work_dir = work_dir
        self.seed = seed
        with open(os.path.join(stage_dir, "oracle.json"), encoding="utf-8") as f:
            self.oracle = json.load(f)

    @property
    def docs(self) -> int:
        return len(self.oracle)

    def label(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    def sample(self, it: int) -> list[str]:
        return check.sample_urls(self.oracle, self.ref_sample,
                                 self.seed * 1000 + it)


class Crawl(Workload):
    """Multi-file parquet pages through ``extract_pipeline`` (sql-stub);
    text, fields and doc confidence collected to the driver. This path
    keeps no durable output, so recovery re-extracts the lost files."""

    kind = "crawl"
    ref_sample = 24
    min_iters = 2

    def _files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.input, "*.parquet")))

    def _extract(self, paths: list[str]):
        res = extract_pipeline(self.spark.read.parquet(*paths), model="sql-stub")
        fields = res.fields.persist()
        try:
            return (res.extracted_text.toArrow(), fields.toArrow(),
                    res.doc_confidences.toArrow())
        finally:
            fields.unpersist()
            res.unpersist()

    def run(self, it: int, resume: bool = True, resume_obs=None) -> dict:
        files = self._files()
        self.label("full")
        settle(self.spark)
        t0 = time.perf_counter()
        out = self._extract(files)
        r = {"wall_s": time.perf_counter() - t0}
        bad = self._check(self.oracle, out, it)
        if resume:
            lost = files[:max(1, round(len(files) * LOST_SHARE))]
            self.label("resume")
            settle(self.spark)
            t0 = time.perf_counter()
            redo = self._extract(lost)
            r["resume_s"] = time.perf_counter() - t0
            urls = pq.read_table(lost, columns=["url"]).column("url").to_pylist()
            bad |= self._check({u: self.oracle[u] for u in urls}, redo, None)
        r["failed"] = len(bad)
        return r

    def _check(self, oracle: dict, out, it: int | None) -> set[str]:
        text, field_tbl, conf = out
        bad = check.text_failures(oracle, text.column("url").to_pylist(),
                                  text.column("extracted_text").to_pylist())
        rows = field_tbl.to_pylist()
        conf_urls = conf.column("url").to_pylist()
        bad |= check.field_failures(oracle, rows, conf_urls)
        if it is None:
            return bad
        doc_conf = dict(zip(conf_urls, conf.column("Confidence").to_pylist()))
        by_url: dict[str, list] = {}
        for r in rows:
            by_url.setdefault(r["url"], []).append(r)
        for u in self.sample(it):
            exp = check.reference_doc(u, oracle[u][1])
            if not check.fields_match_reference(exp, by_url.get(u, []),
                                                doc_conf.get(u)):
                bad.add(u)
        return bad

    def prefixes(self, obs: dict) -> list[tuple]:
        """(layer, parent layer, thunk writing the cumulative prefix). The
        window-model branch (splitting, inference) hangs off the front-end
        and is not part of the full sql-stub run."""
        spark, files = self.spark, self._files()

        def pages():
            return spark.read.parquet(*files)

        def windows(dw):
            return sort_by_cost_bucket(split_pages_to_windows(pages_view(dw)))

        def inference():
            # extract_pipeline persists the front-end output that both the
            # windows and the word view read; so does this prefix
            dw = html_to_words(pages()).persist()
            try:
                _noop(enrich_words_with_model(dw, windows(dw)))
            finally:
                dw.unpersist()

        return [
            ("scan", None, lambda: _noop(pages().select("url", "html"))),
            *_sql_stub_layers(spark, pages, "scan", obs),
            ("splitting", "frontend", lambda: _noop(
                windows(html_to_words(pages())).observe(
                    obs["splitting"], _rows_out()))),
            ("inference", "splitting", inference),
        ]


class Warc(Workload):
    """``.warc.gz`` archives read with ``read_warc`` and written through
    ``LineageStore.run(extraction_stage_for_lineage())``. Recovery: a share
    of the written buckets is deleted, ``validate`` demotes them and a
    second ``run`` resumes."""

    kind = "warc"
    ref_sample = 4

    def run(self, it: int, resume: bool = True, resume_obs=None) -> dict:
        root = os.path.join(self.work_dir, "lineage")
        shutil.rmtree(root, ignore_errors=True)
        results = os.path.join(root, "results")
        store = LineageStore(root, n_buckets=N_BUCKETS)
        self.label("full")
        settle(self.spark)
        t0 = time.perf_counter()
        summary = store.run(self.spark, read_warc(self.spark, self.input),
                            extraction_stage_for_lineage(), run_id="full")
        r = {"wall_s": time.perf_counter() - t0,
             "write_s": summary["wall_ms"] / 1e3,
             "bytes_written": _dir_bytes(results)}
        lost: set[int] = set()
        if resume:
            lost = self._lose(results, it)
            self.label("resume")
            settle(self.spark)
            t0 = time.perf_counter()
            store.validate(self.spark)
            pages = read_warc(self.spark, self.input)
            if resume_obs is not None:
                pages = pages.observe(resume_obs, _rows_out())
            store.run(self.spark, pages, extraction_stage_for_lineage(),
                      run_id="resume")
            r["resume_s"] = time.perf_counter() - t0
        tbl = pq.read_table(results)
        r["failed"] = len(self._check(tbl, it))
        r["rewritten"] = sum(b in lost for b in tbl.column("bucket").to_pylist())
        return r

    def _lose(self, results: str, it: int) -> set[int]:
        present = sorted(int(d.split("=", 1)[1]) for d in os.listdir(results)
                         if d.startswith("bucket="))
        lost = random.Random(self.seed * 1000 + it).sample(
            present, max(1, round(len(present) * LOST_SHARE)))
        for b in lost:
            shutil.rmtree(os.path.join(results, f"bucket={b}"))
        return set(lost)

    def _check(self, tbl, it: int) -> set[str]:
        urls = tbl.column("url").to_pylist()
        bad = check.text_failures(self.oracle, urls,
                                  tbl.column("extracted_text").to_pylist())
        n_pages = dict(zip(urls, tbl.column("n_pages").to_pylist()))
        bad |= {u for u in self.oracle if n_pages.get(u) != 1}
        doc_conf = dict(zip(urls, tbl.column("doc_confidence").to_pylist()))
        review = dict(zip(urls, tbl.column("needs_human_review").to_pylist()))
        for u in self.sample(it):
            exp = check.reference_doc(u, self.oracle[u][1])["Confidence"]
            if not check.close(doc_conf.get(u), exp) \
                    or review.get(u) != (exp is None or not exp >= 0.5):
                bad.add(u)
        return bad

    def prefixes(self, obs: dict) -> list[tuple]:
        spark, path = self.spark, self.input

        def pages():
            return read_warc(spark, path)

        return [
            ("scan", None, lambda: _noop(
                spark.read.format("binaryFile").load(path).select("content"))),
            ("warc", "scan", lambda: _noop(
                pages().observe(obs["warc"], _rows_out()))),
            *_sql_stub_layers(spark, pages, "warc", obs),
        ]


WORKLOADS = {"crawl_pages": Crawl, "warc_long_resume": Warc}
#: layers whose prefixes the full run does not execute
SIDE_LAYERS = ("splitting", "inference")


def traced(spark, wl: Workload, event_dir: str) -> dict:
    """The layer prefixes and a full run with the event log attached, then
    a full run with it detached; returns the per-layer metrics except
    session.start_s, which the parent measures."""
    sid = os.getsid(0)
    obs = {k: Observation(k) for k in
           ("warc", "frontend", "assembly", "splitting", "entities",
            "consolidate")}
    wall, cpu, parent = {}, {}, {}
    for layer, up, thunk in wl.prefixes(obs):
        wl.label(layer)
        c0, t0 = procfs.session_cpu_seconds(sid), time.perf_counter()
        thunk()
        wall[layer] = time.perf_counter() - t0
        cpu[layer] = procfs.session_cpu_seconds(sid) - c0
        parent[layer] = up
        log(f"prefix {layer}: {wall[layer]:.3f} s, cpu {cpu[layer]:.2f} s")
    resume_obs = Observation("resume")
    full = wl.run(1, resume=wl.kind == "warc", resume_obs=resume_obs)
    jsc = spark.sparkContext._jsc.sc()
    listener = jsc.eventLogger().get()
    jsc.removeSparkListener(listener)
    plain = wl.run(2, resume=False)
    jsc.addSparkListener(listener)
    spark.stop()

    def self_of(d: dict, layer: str) -> float:
        if layer not in d:
            return 0.0
        up = parent[layer]
        return d[layer] - (d[up] if up else 0.0)

    def count(name: str) -> int:
        return int(obs[name].get["n"] or 0) if name in wall else 0

    logs = glob.glob(os.path.join(event_dir, "*"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}: {logs}")
    groups = eventlog.read_event_log(logs[0])
    log("job group: jobs tasks run_s cpu_s shuffle_read shuffle_write "
        "spill max/median")
    for name, st in groups.items():
        log(f"  {name}: {st.jobs} {st.tasks} {st.run_s:.2f} {st.cpu_s:.2f} "
            f"{st.shuffle_read_bytes} {st.shuffle_write_bytes} "
            f"{st.spill_bytes} {st.task_max_over_median():.2f}")

    def g(layer: str) -> eventlog.GroupStats:
        return groups.get(layer, eventlog.GroupStats())

    def delta(layer: str, attr: str) -> float:
        if layer not in wall:
            return 0
        up = parent[layer]
        return getattr(g(layer), attr) - (getattr(g(up), attr) if up else 0)

    main_layers = [k for k in wall if k not in SIDE_LAYERS]
    m = {
        "sources.scan_s": self_of(wall, "scan"),
        "warc.decode_s": self_of(wall, "warc"),
        "warc.records_out": count("warc"),
        "frontend.self_s": self_of(wall, "frontend"),
        "frontend.task_cpu_s": self_of(cpu, "frontend"),
        "frontend.ms_per_doc": 1e3 * self_of(cpu, "frontend") / wl.docs,
        "frontend.words_out": count("frontend"),
        "assembly.self_s": self_of(wall, "assembly"),
        "assembly.text_bytes_out": count("assembly"),
        "enrich.self_s": self_of(wall, "enrich"),
        "splitting.self_s": self_of(wall, "splitting"),
        "splitting.windows_out": count("splitting"),
        "inference.self_s": self_of(wall, "inference"),
        "inference.task_cpu_s": self_of(cpu, "inference"),
        "inference.shuffle_write_bytes": delta("inference", "shuffle_write_bytes"),
        "entities.self_s": self_of(wall, "entities"),
        "entities.shuffle_write_bytes": delta("entities", "shuffle_write_bytes"),
        "entities.spill_bytes": delta("entities", "spill_bytes"),
        "entities.mentions_out": count("entities"),
        "entities.task_max_over_median": g("entities").task_max_over_median(),
        "consolidate.self_s": self_of(wall, "consolidate"),
        "consolidate.shuffle_write_bytes":
            delta("consolidate", "shuffle_write_bytes"),
        "consolidate.fields_out": count("consolidate"),
        "pipeline.exchanges": g("consolidate").exchanges,
        "pipeline.broadcasts": g("consolidate").broadcasts,
        "pipeline.jobs": g("full").jobs,
        "trace.overhead_ratio": full["wall_s"] / plain["wall_s"],
        "trace.coverage": sum(self_of(wall, k) for k in main_layers)
        / full["wall_s"],
        "lineage.write_s": 0.0,
        "lineage.bookkeeping_s": 0.0,
        "lineage.bytes_written": 0,
        "lineage.resume_useful_ratio": 0.0,
    }
    if wl.kind == "warc":
        decoded = int(resume_obs.get["n"] or 0)
        m.update({
            "lineage.write_s": full["write_s"],
            "lineage.bookkeeping_s": full["wall_s"] - full["write_s"],
            "lineage.bytes_written": full["bytes_written"],
            "lineage.resume_useful_ratio":
                full["rewritten"] / decoded if decoded else 0.0,
        })
    return {"metrics": m, "failed": plain["failed"] + full["failed"]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--stage", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--budget", type=float, required=True)
    ap.add_argument("--control-fd", type=int, required=True)
    args = ap.parse_args()
    t_stop = time.perf_counter() + args.budget
    ctl = os.fdopen(args.control_fd, "w", buffering=1)

    def send(event: str, **kw) -> None:
        ctl.write(json.dumps({"event": event, **kw}) + "\n")

    tmp = os.path.join(args.work, "tmp")
    event_dir = os.path.join(args.work, "eventlog")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's scratch files inside the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if args.trace:
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": Path(event_dir).as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    # get_spark prints its codec report to stdout; keep it off the result
    # channel and pass it on as a log line
    captured = io.StringIO()
    with contextlib.redirect_stdout(captured):
        spark = get_spark("perfbench", cores=2, extra_conf=conf)
    for line in captured.getvalue().splitlines():
        log(line)
    send("session")

    wl = WORKLOADS[args.workload](spark, args.stage, args.work, args.seed)
    send("start", docs=wl.docs)
    # warm-up: the session's first full run, untimed but checked; it pays
    # for class loading, code generation and the first JIT compiles, which
    # take several times as long as any later call
    warm = wl.run(0, resume=False)
    log(f"warm-up: full {warm['wall_s']:.3f} s")
    send("ready", failed=warm["failed"])

    if args.trace:
        send("start", docs=2 * wl.docs)
        send("trace", **traced(spark, wl, event_dir))
        return
    # whole iterations; none is started that would be expected to end
    # after the window, except the first ``min_iters``, and none after the
    # first that would be expected to end after the run's budget
    t_end = time.perf_counter() + args.seconds
    it, last = 1, 0.0
    while it == 1 or time.perf_counter() + last <= (
            t_stop if it <= wl.min_iters else min(t_end, t_stop)):
        send("start", docs=wl.docs)
        t0 = time.perf_counter()
        r = wl.run(it)
        last = time.perf_counter() - t0
        log(f"iteration {it}: full {r['wall_s']:.3f} s, "
            f"resume {r['resume_s']:.3f} s, failed {r['failed']} "
            f"({last:.3f} s with checks)")
        send("iter", docs=wl.docs, **r)
        it += 1
    send("timed_end")
    spark.stop()


if __name__ == "__main__":
    main()
