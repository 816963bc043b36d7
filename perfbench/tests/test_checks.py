"""The correctness gates catch a corrupted table and a corrupted corpus.

    python3 -m pytest perfbench/tests -q

Each test first shows the gate passes on honest output, then damages
the output the way a bug would and shows the gate fails.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, REPO]

import checks  # noqa: E402
import host  # noqa: E402
from inputs import CorpusShape, FeedShape, FeedWriter  # noqa: E402


@pytest.fixture(scope="module")
def work_root():
    """Scratch under the checkout, like a benchmark run's."""
    root = os.path.join(REPO, ".perfbench_work", f"tests-{os.getpid()}")
    os.makedirs(root)
    yield root
    shutil.rmtree(root, ignore_errors=True)
    if not os.listdir(os.path.dirname(root)):
        os.rmdir(os.path.dirname(root))


@pytest.fixture(scope="module")
def spark(work_root):
    host.prepare_env(REPO, work_root)
    s = host.start_spark(work_root)
    # the tests rewrite files in place: list them afresh on every read
    s.conf.set("spark.sql.hive.manageFilesourcePartitions", "false")
    yield s
    host.stop_spark(s)


@pytest.fixture
def tmp_work(work_root, request):
    d = os.path.join(work_root, request.node.name)
    os.makedirs(d)
    return d


def _rewrite(path: str, fn) -> None:
    t = pq.read_table(path)
    pq.write_table(fn(t), path)
    # Spark's local filesystem would reject the rewrite by its old checksum
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_corrupted_table_is_caught(spark, tmp_work):
    from qwatch_spark.config import PipelineConfig
    from qwatch_spark.operators.apply import apply_changes
    from qwatch_spark.plans.snapshot_table import SnapshotTable
    from qwatch_spark.sources.feed import read_feed

    work = tmp_work
    fw = FeedWriter(7, FeedShape(20, 50, 0.3, 0.1, 600, 0.02))
    files = []
    for e in range(2):
        p = os.path.join(work, "feed", f"e={e}", "seg.parquet")
        fw.write(p, e, 1500, e)
        files.append(p)
    cfg = PipelineConfig(n_buckets=4, write_mode="auto")
    path = os.path.join(work, "table")
    SnapshotTable.create(path, n_buckets=4)
    for e, p in enumerate(files):
        apply_changes(spark, read_feed(spark, os.path.dirname(p)), SnapshotTable(path), e, cfg)

    fails, _ = checks.check_cdc(spark, path, work, files, cfg.keep_langs, seed=1)
    assert fails == []

    # a live row's lang silently changes in the newest data file
    data = sorted(
        glob.glob(os.path.join(path, "data", "**", "*.parquet"), recursive=True),
        key=os.path.getmtime,
    )
    target = next(p for p in reversed(data)
                  if pq.read_table(p, columns=["lang"]).column("lang").null_count
                  < pq.read_metadata(p).num_rows)

    def flip_lang(t):
        lang = t.column("lang").to_pylist()
        i = next(k for k, v in enumerate(lang) if v is not None)
        lang[i] = "xx"
        return t.set_column(t.schema.get_field_index("lang"), "lang",
                            pa.array(lang, t.schema.field("lang").type))

    _rewrite(target, flip_lang)
    fails, _ = checks.check_cdc(spark, path, work, files, cfg.keep_langs, seed=1)
    assert any("hash" in f for f in fails), fails

    # every data file of the first epoch goes missing
    for p in data[: len(data) // 2]:
        os.remove(p)
    fails, _ = checks.check_cdc(spark, path, work, files, cfg.keep_langs, seed=1)
    assert any("row count" in f for f in fails), fails


def test_corrupted_corpus_is_caught(spark, tmp_work):
    from inputs import write_corpus
    from spantrace import Tracer
    from workloads import CorpusBuild, Run

    work = tmp_work
    wl = CorpusBuild()
    docs = os.path.join(work, "docs.parquet")
    plant = write_corpus(docs, 3, CorpusShape(300, 8, 3, 8, 3, 0.05))
    run = Run(3, 1, work, spark, Tracer(spark, False))
    out = wl._pass(run, docs, os.path.join(work, "pass"))

    fails, info = checks.check_corpus(work, out, wl.threshold, plant["near_pairs"])
    assert fails == []
    assert info["near_pairs"] > 0

    def part(key):
        return sorted(glob.glob(os.path.join(out[key], "*.parquet")))

    # a false near pair: two docs that share almost no words
    pairs_file = next(p for p in part("pairs") if pq.read_metadata(p).num_rows > 0)
    kept = pq.read_table(part("deduped")).column("doc_id").to_pylist()

    def add_false_pair(t):
        row = {"doc_a": [min(kept)], "doc_b": [max(kept)], "jaccard": [0.99]}
        return pa.concat_tables([t, pa.table(row, schema=t.schema)])

    _rewrite(pairs_file, add_false_pair)
    fails, _ = checks.check_corpus(work, out, wl.threshold, plant["near_pairs"])
    assert any("Jaccard" in f for f in fails), fails

    # a packed span is lost
    spans_file = next(p for p in part("spans") if pq.read_metadata(p).num_rows > 0)
    _rewrite(spans_file, lambda t: t.slice(1))
    fails, _ = checks.check_corpus(work, out, wl.threshold, plant["near_pairs"])
    assert any("spans" in f for f in fails), fails

    # an exact-duplicate group disappears
    groups_file = next(p for p in part("groups") if pq.read_metadata(p).num_rows > 0)
    _rewrite(groups_file, lambda t: t.filter(pc.not_equal(t.column("digest"),
                                                          t.column("digest")[0])))
    fails, _ = checks.check_corpus(work, out, wl.threshold, plant["near_pairs"])
    assert any("exact-dup" in f for f in fails), fails
