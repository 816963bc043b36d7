"""The benchmark's workloads, driving qwatch_spark's public API from
outside: ``run_stream``, ``SnapshotTable.read_key`` / ``read_changes`` /
``read``, and the ``dedup_text`` / ``sampling`` operators.

Each workload has three steps: ``inputs`` writes its seeded files (no
Spark), ``setup`` prepares the program (table, warm-up), ``measure`` runs
the timed window, and ``check`` gates correctness afterwards. Every call
into a layer runs inside a tracer span named ``<layer>.<call>``.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
import statistics
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import checks
from inputs import CorpusShape, FeedShape, FeedWriter, write_corpus


def pct(values, q: float) -> float:
    """Percentile by linear interpolation (numpy's default)."""
    return float(np.percentile(np.asarray(values, dtype=float), q)) if values else 0.0


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Run:
    """State of one pass of a workload: one Spark session, one tracer."""

    def __init__(self, seed, seconds, work_dir, spark, tracer):
        self.seed = seed
        self.seconds = seconds
        self.work = work_dir
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.detail: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, float] = {}
        self._lock = threading.Lock()  # the reader thread counts too

    def op(self, ok: bool, what: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.errors.append(what)

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)


def _apply_phases(stats) -> dict:
    """Per-epoch means of the ApplyStats phases the layer reports."""
    live = [s for s in stats if not s.skipped and s.phases]
    n = max(1, len(live))
    out = {
        "apply.write_s": sum(s.phases.get("write", 0) for s in live) / n,
        "apply.commit_stats_s": sum(s.phases.get("commit_stats", 0) for s in live) / n,
        "apply.commit_swap_s": sum(s.phases.get("commit_swap", 0) for s in live) / n,
        "apply.lineage_s": sum(s.phases.get("lineage", 0) for s in live) / n,
        "apply.buckets_touched": sum(s.touched_buckets for s in live) / n,
    }
    comp = [s.phases["compact"] for s in live if "compact" in s.phases]
    out["apply.compactions"] = float(len(comp))
    out["apply.compact_s"] = sum(comp) / len(comp) if comp else 0.0
    return out


def _delta_depths(table_path: str) -> list[int]:
    with open(os.path.join(table_path, "manifest.json")) as fh:
        m = json.load(fh)
    return [
        len(e["deltas"]) if isinstance(e, dict) else 0
        for e in m.get("buckets", {}).values()
    ]


# ------------------------------------------------------------ stream_tail


class StreamTail:
    """Open-loop tail: a generator thread releases small WAL segments at a
    fixed rate into the directory a tailing run_stream watches, while a
    closed-loop reader issues point lookups and change-feed reads."""

    name = "stream_tail"
    work_thread = "stream"  # the thread whose self times sum to the window
    shape = FeedShape(
        n_domains=200, pages_per_domain=200, hot_share=0.3,
        delete_share=0.1, jitter_s=600, invalid_url_share=0.005,
    )
    seg_events = 125
    seg_rate = 20.0  # segments/s -> 2,500 events/s
    n_buckets = 8
    compact_every = 1
    # processingTime trigger of the tailing query: longer than the
    # slowest epoch (a compaction epoch, about 6 s on 4 cores), so epochs
    # keep the trigger's cadence instead of running back to back
    trigger = "8 seconds"
    cdf_every = 5  # every 5th reader op is a read_changes
    think_s = 1.0  # reader pause between operations
    drain_timeout_s = 90.0

    def config(self):
        from qwatch_spark.config import PipelineConfig

        return PipelineConfig(
            n_buckets=self.n_buckets, write_mode="auto",
            compact_every=self.compact_every, max_files_per_trigger=100_000,
        )

    def inputs(self, work: str, seed: int, seconds: int) -> dict:
        fw = FeedWriter(seed, self.shape)
        n = math.ceil(seconds * self.seg_rate)
        staged, nbytes = [], 0
        for i in range(n):
            p = os.path.join(work, "staged", f"seg-{i:05d}.parquet")
            nbytes += fw.write(p, i, self.seg_events, 0)
            staged.append(p)
        warm = os.path.join(work, "warm.parquet")
        FeedWriter(seed + 1_000_003, self.shape).write(warm, 0, self.seg_events, 0)
        rng = np.random.default_rng([seed, 99])
        hot = rng.random(400) < self.shape.hot_share
        dom = np.where(hot, 0, rng.integers(1, self.shape.n_domains, 400))
        page = rng.integers(0, self.shape.pages_per_domain, 400)
        keys = [f"https://d{d}.example.com/p/{p}" for d, p in zip(dom, page)]
        return {"staged": staged, "bytes": nbytes, "warm": warm, "keys": keys}

    def setup(self, run: Run, inp: dict) -> dict:
        """Start the tailing query and warm it with one segment, so the
        window measures a running stream, not its cold start."""
        from pyspark.sql import functions as F

        from qwatch_spark.plans.snapshot_table import SnapshotTable
        from qwatch_spark.streaming import run_stream

        cfg = self.config()
        walls = []
        for k in range(3):  # set-up repeated: its median is less noisy
            table = run.path(f"table-{k}")
            t = time.perf_counter()
            SnapshotTable.create(table, n_buckets=cfg.n_buckets)
            walls.append(time.perf_counter() - t)
        create_s = statistics.median(walls)
        feed, ckpt = run.path("feed"), run.path("ckpt")
        os.makedirs(feed)
        out: dict = {}

        def stream_main():
            with run.tracer.span("streaming.run_stream"):
                try:
                    out["stats"] = run_stream(
                        run.spark, feed, table, ckpt, cfg, available_now=False,
                        processing_time=self.trigger,
                    )
                except Exception as exc:  # noqa: BLE001 - counted, reported
                    out["error"] = repr(exc)

        t = time.perf_counter()
        thread = threading.Thread(target=stream_main, name="stream", daemon=True)
        thread.start()
        os.rename(inp["warm"], os.path.join(feed, "warm.parquet"))
        deadline = time.time() + 120
        while 0 not in self._epoch_ends(ckpt):  # the warm epoch has ended
            if not thread.is_alive() or time.time() > deadline:
                raise RuntimeError(f"stream warm-up failed: {out.get('error')}")
            time.sleep(0.05)
        warm_s = time.perf_counter() - t
        buckets = {
            r["url"]: r["b"]
            for r in run.spark.createDataFrame([(k,) for k in inp["keys"]], "url string")
            .select("url", F.pmod(F.xxhash64("url"), F.lit(cfg.n_buckets)).alias("b"))
            .collect()
        }
        return {"cfg": cfg, "table": table, "setup_s": warm_s + create_s,
                "buckets": buckets, "thread": thread, "out": out}

    # -- helpers over the checkpoint and the table's durable records

    @staticmethod
    def _source_batches(ckpt: str) -> dict[str, int]:
        """segment file name -> micro-batch id, from the source log."""
        d = os.path.join(ckpt, "sources", "0")
        out: dict[str, int] = {}
        if not os.path.isdir(d):
            return out
        for f in os.listdir(d):
            if f.startswith("."):
                continue
            try:
                with open(os.path.join(d, f)) as fh:
                    for line in fh:
                        if line.startswith("{"):
                            rec = json.loads(line)
                            out[os.path.basename(rec["path"])] = int(rec["batchId"])
            except (OSError, ValueError):
                continue  # being written; the next poll sees it whole
        return out

    @staticmethod
    def _epoch_ends(ckpt: str) -> dict[int, float]:
        """micro-batch id -> when its foreachBatch returned: the query
        writes commits/<id> to the checkpoint after the batch's sink
        (apply_changes, compaction included) has finished."""
        d = os.path.join(ckpt, "commits")
        if not os.path.isdir(d):
            return {}
        return {int(f): os.path.getmtime(os.path.join(d, f))
                for f in os.listdir(d) if f.isdigit()}

    @staticmethod
    def _commit_times(table: str) -> dict[int, float]:
        import datetime as dt

        d = os.path.join(table, "commit_log")
        if not os.path.isdir(d):
            return {}
        t = pq.read_table(d, columns=["epoch_id", "committed_at"]).to_pylist()
        return {
            int(r["epoch_id"]): r["committed_at"].replace(tzinfo=dt.timezone.utc).timestamp()
            for r in t
        }

    def measure(self, run: Run, inp: dict, st: dict) -> None:
        from qwatch_spark.plans.snapshot_table import SnapshotTable

        spark, tr = run.spark, run.tracer
        feed, ckpt, table = run.path("feed"), run.path("ckpt"), st["table"]
        n = len(inp["staged"])
        released: list[float] = []
        ths, stream_out = st["thread"], st["out"]
        done = threading.Event()
        # processingTime triggers fire on wall-clock multiples of the
        # interval. Starting the schedule 0.1 s before one makes every run
        # see the same trigger phase, and the last segment of a window
        # that is a whole number of intervals is released just before a
        # trigger, not just after one.
        period = float(self.trigger.split()[0])
        t0 = (math.floor((time.time() + 0.5) / period) + 1) * period - 0.1
        due = [t0 + i / self.seg_rate for i in range(n)]

        def generator():
            for i, src in enumerate(inp["staged"]):
                delay = due[i] - time.time()
                if delay > 0:
                    time.sleep(delay)
                with tr.span("bench.release"):
                    os.rename(src, os.path.join(feed, os.path.basename(src)))
                released.append(time.time())

        backlog, depths = [], []

        def committed_count() -> int:
            src = self._source_batches(ckpt)
            t = SnapshotTable(table)
            return sum(1 for f, b in src.items() if f != "warm.parquet" and t.has_epoch(b))

        def ended_count() -> int:
            # an epoch ends after its table commit: compaction and the
            # checkpoint's commit come later in the same foreachBatch
            src, ends = self._source_batches(ckpt), self._epoch_ends(ckpt)
            return sum(1 for f, b in src.items() if f != "warm.parquet" and b in ends)

        def sampler():
            while not done.wait(1.0):
                with tr.span("bench.sample"):
                    backlog.append(len(released) - committed_count())
                    depths.append(_delta_depths(table))

        lookups, cdfs, files_per_lookup = [], [], []

        def reader():
            rng = np.random.default_rng([run.seed, 5])
            keys = inp["keys"]
            since, k = None, 0
            while not done.wait(self.think_s):
                k += 1
                t = SnapshotTable(table)
                if k % self.cdf_every == 0:
                    if since is not None and since < t.version:
                        with tr.span("snapshot_table.read_changes"):
                            t1 = time.perf_counter()
                            try:
                                t.read_changes(spark, since).count()
                                run.op(True)
                            except Exception as exc:  # noqa: BLE001
                                run.op(False, f"read_changes: {exc!r}")
                            cdfs.append(time.perf_counter() - t1)
                    since = t.version
                    continue
                key = keys[int(rng.integers(0, len(keys)))]
                if tr.enabled:
                    files_per_lookup.append(self._bucket_files(table, st["buckets"][key]))
                with tr.span("snapshot_table.read_key"):
                    t1 = time.perf_counter()
                    try:
                        t.read_key(spark, key).collect()
                        run.op(True)
                    except Exception as exc:  # noqa: BLE001
                        run.op(False, f"read_key: {exc!r}")
                    lookups.append(time.perf_counter() - t1)

        with tr.span("bench.window"):
            thg = threading.Thread(target=generator, name="generator", daemon=True)
            ths_ = threading.Thread(target=sampler, name="sampler", daemon=True)
            thr = threading.Thread(target=reader, name="reader", daemon=True)
            for th in (thg, ths_, thr):
                th.start()
            thg.join()
            deadline = time.time() + self.drain_timeout_s
            while ended_count() < n and time.time() < deadline and ths.is_alive():
                time.sleep(0.1)
            done.set()
            thr.join(timeout=60)
            ths_.join(timeout=10)
            for q in spark.streams.active:
                q.stop()
            ths.join(timeout=60)
        drained = ended_count() == n
        run.op(drained and "error" not in stream_out,
               stream_out.get("error", "stream did not drain every released segment"))
        src = self._source_batches(ckpt)
        src.pop("warm.parquet", None)
        commits = self._commit_times(table)
        commits.pop(0, None)  # the warm-up epoch
        ends = self._epoch_ends(ckpt)
        # fresh: due -> committed_at, when the change is readable.
        # done: due -> the end of the epoch's foreachBatch, which also
        # holds the compaction apply_changes runs after its commit; the
        # bounded latencies use it, so a slower compaction shows even
        # when the trigger interval has slack for it
        fresh, done_lat = [], []
        for i, p in enumerate(inp["staged"]):
            b = src.get(os.path.basename(p))
            if b is not None and b in commits and b in ends:
                fresh.append(commits[b] - due[i])
                done_lat.append(ends[b] - due[i])
        stats = [s for s in stream_out.get("stats", [])
                 if not s.skipped and s.epoch_id in commits]
        epochs = sorted({b for b in src.values() if b in commits and b in ends})
        last_end = max(ends[b] for b in epochs) if epochs else time.time()
        events = len(done_lat) * self.seg_events
        sustained = events / max(1e-9, last_end - due[0])
        table_bytes = tree_bytes(table)
        lag = [r - d for r, d in zip(released, due)]
        st.update(released=len(released), stats=stats, drained=drained)
        run.e2e.update(
            throughput_per_s=sustained,
            latency_p50_s=pct(done_lat, 50),
            latency_p95_s=pct(done_lat, 95),
            write_amp=table_bytes / max(1, inp["bytes"]),
        )
        run.detail.update(
            freshness_p50_s=(pct(fresh, 50), "s"),
            freshness_p95_s=(pct(fresh, 95), "s"),
            freshness_samples=(len(fresh), "count"),
            epoch_done_p50_s=(pct(done_lat, 50), "s"),
            epoch_done_p95_s=(pct(done_lat, 95), "s"),
            sustained_events_per_s=(sustained, "1/s"),
            offered_events_per_s=(self.seg_rate * self.seg_events, "1/s"),
            epochs=(len(epochs), "count"),
            lookup_p50_s=(pct(lookups, 50), "s"),
            lookup_p95_s=(pct(lookups, 95), "s"),
            lookups=(len(lookups), "count"),
            cdf_p50_s=(pct(cdfs, 50), "s"),
            cdf_reads=(len(cdfs), "count"),
            generator_lag_max_s=(max(lag) if lag else 0.0, "s"),
        )
        flat_depths = [x for d in depths for x in d] or [0]
        run.layer.update(_apply_phases(stats))
        run.layer.update(
            {
                "feed.input_bytes": inp["bytes"],
                "feed.backlog_files": float(np.mean(backlog)) if backlog else 0.0,
                "apply.dedup_ratio": sum(s.n_events for s in stats) / max(1, events),
                "snapshot_table.table_bytes": table_bytes,
                "snapshot_table.delta_depth_mean": float(np.mean(flat_depths)),
                "snapshot_table.delta_depth_max": float(max(flat_depths)),
                "snapshot_table.files_per_lookup": (
                    float(np.mean(files_per_lookup)) if files_per_lookup else 0.0
                ),
                "snapshot_table.read_key_s": pct(lookups, 50),
                "snapshot_table.read_changes_s": pct(cdfs, 50),
                "bench.generator_lag_s": float(np.mean(lag)) if lag else 0.0,
                # apply_changes' own wall: wall_ms stops before compaction
                "_epoch_walls": {
                    s.epoch_id: s.wall_ms / 1000.0 + (s.phases or {}).get("compact", 0.0)
                    for s in stats
                },
                "_commits": commits,
            }
        )

    def trace_extra(self, run: Run, st: dict) -> None:
        pass

    @staticmethod
    def _bucket_files(table: str, b: int) -> int:
        with open(os.path.join(table, "manifest.json")) as fh:
            e = json.load(fh).get("buckets", {}).get(str(b))
        if e is None:
            return 0
        toks = ([e] if not isinstance(e, dict) else
                ([e["base"]] if e["base"] is not None else []) + list(e["deltas"]))
        n = 0
        for tok in toks:
            d = os.path.join(table, "data", f"v={tok}", f"b={b}")
            if os.path.isdir(d):
                n += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        return n

    def check(self, run: Run, inp: dict, st: dict) -> None:
        feed = run.path("feed")
        files = sorted(os.path.join(feed, f) for f in os.listdir(feed)
                       if f.endswith(".parquet"))
        fails, _ = checks.check_cdc(
            run.spark, st["table"], run.work, files, st["cfg"].keep_langs, run.seed
        )
        run.op(not fails, "; ".join(fails))


# ------------------------------------------------------------ corpus_build


class CorpusBuild:
    """jobs/corpus_job.py's stage chain, called through its operators,
    each stage materialized to parquet inside its own span."""

    name = "corpus_build"
    work_thread = "MainThread"
    shape = CorpusShape(
        n_docs=2000, exact_groups=50, exact_group_size=3,
        near_groups=50, near_group_size=3, near_edit_share=0.05,
    )
    threshold = 0.5  # corpus_job --jaccard default
    min_quality = 0.2
    seq_len = 512
    rates = {"en": 0.6, "de": 0.8}
    default_rate = 1.0

    warm_shape = dataclasses.replace(shape, n_docs=300, exact_groups=8, near_groups=8)

    def inputs(self, work: str, seed: int, seconds: int) -> dict:
        plant = write_corpus(os.path.join(work, "docs.parquet"), seed, self.shape)
        write_corpus(os.path.join(work, "warm.parquet"), seed + 1_000_003, self.warm_shape)
        return {"docs": os.path.join(work, "docs.parquet"),
                "warm": os.path.join(work, "warm.parquet"), **plant}

    def setup(self, run: Run, inp: dict) -> dict:
        """One pass of the chain over a small corpus, so the timed pass
        runs warm code: class loading, JIT and Python worker start-up
        made a cold pass about twice as long, so the operators' own time
        was only half of what it measured."""
        t = time.perf_counter()
        self._pass(run, inp["warm"], run.path("warm-pass"))
        return {"setup_s": time.perf_counter() - t}

    def _pass(self, run: Run, docs_path: str, out_dir: str) -> dict:
        from pyspark.sql import functions as F

        from qwatch_spark.operators.dedup_text import (
            dedup_keep_canonical,
            exact_duplicates,
            near_dup_pairs,
        )
        from qwatch_spark.operators.sampling import (
            pack_chunk_spans,
            pack_sequences,
            stratified_sample,
        )
        from qwatch_spark.operators.textstats import lang_pred_expr, quality_exprs

        spark, tr = run.spark, run.tracer
        out = {k: os.path.join(out_dir, f"{k}.parquet") for k in
               ("gated", "groups", "deduped", "pairs", "kept", "mixed", "placed", "spans")}

        def save(df, key):
            df.write.mode("overwrite").parquet(out[key])
            return spark.read.parquet(out[key])

        docs = spark.read.parquet(docs_path)
        with tr.span("textstats.quality_gate"):
            q = quality_exprs()["quality"]
            gated = docs.filter(q >= self.min_quality).withColumn(
                "lang",
                F.when(F.col("lang").isNotNull() & (F.col("lang") != "und"),
                       F.col("lang")).otherwise(lang_pred_expr()),
            )
            gated = save(gated, "gated")
        with tr.span("dedup_text.exact_duplicates"):
            groups = save(exact_duplicates(gated), "groups")
            losers = (
                gated.select("doc_id", F.md5(F.col("text")).alias("digest"))
                .join(groups, "digest")
                .filter(F.col("doc_id") != F.col("canonical_doc"))
                .select("doc_id")
            )
            deduped = save(gated.join(losers, "doc_id", "anti"), "deduped")
        with tr.span("dedup_text.near_dup_pairs"):
            pairs = save(near_dup_pairs(deduped, threshold=self.threshold), "pairs")
        with tr.span("dedup_text.dedup_keep_canonical"):
            kept = save(
                dedup_keep_canonical(deduped, pairs, src_col="doc_a", dst_col="doc_b",
                                     work_dir=os.path.join(out_dir, "_cc_work")),
                "kept",
            )
        with tr.span("sampling.stratified_sample"):
            mixed = save(
                stratified_sample(kept, "lang", self.rates, key_col="doc_id",
                                  seed="mix-v1", default_rate=self.default_rate),
                "mixed",
            )
        with tr.span("sampling.pack"):
            placed = save(pack_sequences(mixed, seq_len=self.seq_len), "placed")
            save(pack_chunk_spans(placed, seq_len=self.seq_len), "spans")
        return out

    def measure(self, run: Run, inp: dict, st: dict) -> None:
        """One warm pass (about 14 s for 2,000 docs on 4 cores). Its wall
        is the only time sample: throughput_per_s, latency_p50_s and
        latency_p95_s are three views of that one measurement."""
        out_dir = run.path("pass")
        t = time.perf_counter()
        with run.tracer.span("bench.window"):
            try:
                st["out"] = self._pass(run, inp["docs"], out_dir)
                run.op(True)
            except Exception as exc:  # noqa: BLE001 - counted, reported
                run.op(False, f"corpus pass: {exc!r}")
        wall = time.perf_counter() - t
        if "out" not in st:
            return
        run.e2e.update(
            throughput_per_s=self.shape.n_docs / wall,
            latency_p50_s=wall,
            latency_p95_s=wall,
            write_amp=tree_bytes(out_dir) / max(1, inp["bytes"]),
        )
        run.detail["corpus_docs_per_s"] = (self.shape.n_docs / wall, "1/s")

    def check(self, run: Run, inp: dict, st: dict) -> None:
        if "out" not in st:
            run.op(False, "the corpus pass did not complete")
            return
        fails, info = checks.check_corpus(
            run.work, st["out"], self.threshold, inp["near_pairs"]
        )
        run.detail["planted_near_recall"] = (info["planted_recall"], "ratio")
        run.layer["dedup_text.near_pairs"] = info["near_pairs"]
        run.op(not fails, "; ".join(fails))

    def trace_extra(self, run: Run, st: dict) -> None:
        """LSH candidate count of the pass's near-dup input, after
        the window: the operator returns pairs, not the candidates it
        refined."""
        from qwatch_spark.operators.dedup_text import lsh_candidate_pairs

        if "out" in st:
            deduped = run.spark.read.parquet(st["out"]["deduped"])
            run.layer["dedup_text.candidates"] = lsh_candidate_pairs(deduped).count()


WORKLOADS = {w.name: w for w in (StreamTail(), CorpusBuild())}
