"""Correctness gates, run after the timed window.

CDC workloads: DuckDB replays the same feed files (valid_url, lang_gate,
latest (warc_ts, seq) wins, tombstones dropped) and the result must
match ``SnapshotTable.read`` by row count and by an order-independent
hash of (url, warc_ts, lang, md5(html)). Extracted text on a seeded
sample of urls must be byte-identical to ``extract_text_bytes``.

corpus_build: exact-duplicate groups must match a DuckDB
``GROUP BY md5(text)``, every reported near pair must have a recomputed
word-set Jaccard at or above the threshold, and the packed spans must
cover each kept document's tokens exactly once.

Each check returns a list of failure messages; empty means it passed.
"""

from __future__ import annotations

import duckdb

URL_RE = r"^(https?)://([^/]+)(/.*)?$"  # qwatch_spark.functions.urls.URL_RE

# 60-bit prefix of md5 over the compared fields, summed: order-independent
_ROW_HASH_SQL = (
    "('0x' || substr(md5(url || '|' || CAST(epoch_us(warc_ts) AS VARCHAR) "
    "|| '|' || coalesce(lang, '') || '|' || md5(decode(html))), 1, 15))::BIGINT"
)


def _duck(work_dir: str):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{work_dir}/duckdb_tmp'")
    con.execute("SET threads=2")
    return con


def expected_state(work_dir: str, feed_files: list[str], keep_langs):
    """(row count and hash of the oracle's final state; the open DuckDB
    connection holding its `live` table)."""
    con = _duck(work_dir)
    langs = ", ".join(f"'{x}'" for x in keep_langs)
    con.execute(
        f"""
        CREATE TEMP VIEW gated AS
        SELECT * FROM read_parquet({feed_files!r})
        WHERE regexp_matches(url, '{URL_RE}') AND (op = 'D' OR lang IN ({langs}))
        """
    )
    con.execute(
        """
        CREATE TEMP TABLE live AS
        SELECT url, warc_ts, lang, html FROM gated
        QUALIFY row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, seq DESC) = 1
        """
    )
    con.execute("DELETE FROM live WHERE html IS NULL")  # tombstones
    n, h = con.execute(f"SELECT count(*), sum({_ROW_HASH_SQL}) FROM live").fetchone()
    return {"rows": int(n), "hash": int(h or 0)}, con


def check_cdc(spark, table_path: str, work_dir: str, feed_files: list[str],
              keep_langs, seed: int, n_text: int = 64) -> tuple[list[str], dict]:
    from pyspark.sql import functions as F

    from qwatch_spark.functions.text import extract_text_bytes
    from qwatch_spark.plans.snapshot_table import SnapshotTable

    exp, con = expected_state(work_dir, feed_files, keep_langs)
    df = SnapshotTable(table_path).read(spark)
    row_hash = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("url"),
                    F.unix_micros("warc_ts").cast("string"),
                    F.coalesce(F.col("lang"), F.lit("")),
                    F.md5("html"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("decimal(38,0)")
    sample = con.execute(
        f"SELECT url, html FROM live ORDER BY hash(url || '{seed}') LIMIT {n_text}"
    ).fetchall()
    con.close()
    want = {u: extract_text_bytes(bytes(h)) for u, h in sample}
    # one pass over the table: count, hash and the sampled urls' text
    picked = F.when(
        F.col("url").isin(list(want)), F.struct("url", "text")
    )
    got = df.agg(
        F.count("*").alias("n"),
        F.sum(row_hash).alias("h"),
        F.collect_list(picked).alias("texts"),
    ).first()
    fails = []
    if int(got["n"]) != exp["rows"]:
        fails.append(f"row count {got['n']} != oracle {exp['rows']}")
    if int(got["h"] or 0) != exp["hash"]:
        fails.append("row hash differs from the oracle")
    have = {r["url"]: r["text"] for r in got["texts"]}
    bad = [u for u in want if have.get(u) != want[u]]
    if bad:
        fails.append(f"extracted text differs on {len(bad)}/{len(want)} sampled urls")
    return fails, exp


# ------------------------------------------------------------------ corpus


def check_corpus(work_dir: str, out: dict, threshold: float, planted_pairs) -> tuple[list[str], dict]:
    """`out` holds the parquet paths a corpus pass wrote: gated (input of
    exact dedup), groups, deduped (input of near dedup), pairs, mixed
    and spans."""
    con = _duck(work_dir)
    out = {k: f"{v}/*.parquet" for k, v in out.items()}  # Spark output dirs
    fails: list[str] = []
    want = set(
        con.execute(
            f"""SELECT md5(text), min(doc_id), count(*) FROM read_parquet('{out["gated"]}')
                GROUP BY 1 HAVING count(*) > 1"""
        ).fetchall()
    )
    have = set(
        con.execute(
            f"SELECT digest, canonical_doc, n_docs FROM read_parquet('{out['groups']}')"
        ).fetchall()
    )
    if want != have:
        fails.append(
            f"exact-dup groups differ from GROUP BY md5(text): "
            f"{len(want - have)} missing, {len(have - want)} extra"
        )
    texts = dict(
        con.execute(f"SELECT doc_id, text FROM read_parquet('{out['deduped']}')").fetchall()
    )
    pairs = con.execute(
        f"SELECT doc_a, doc_b FROM read_parquet('{out['pairs']}')"
    ).fetchall()
    words = {}

    def wset(d):
        if d not in words:
            words[d] = {w for w in texts[d].split(" ") if w}
        return words[d]

    below = 0
    for a, b in pairs:
        if a not in texts or b not in texts:
            below += 1
            continue
        sa, sb = wset(a), wset(b)
        if round(len(sa & sb) / len(sa | sb), 6) < threshold:
            below += 1
    if below:
        fails.append(f"{below}/{len(pairs)} reported near pairs are below Jaccard {threshold}")
    found = {tuple(sorted(p)) for p in pairs}
    eligible = [
        p for p in planted_pairs
        if p[0] in texts and p[1] in texts
        and len(wset(p[0]) & wset(p[1])) / len(wset(p[0]) | wset(p[1])) >= threshold
    ]
    recall = (
        sum(1 for p in eligible if tuple(p) in found) / len(eligible) if eligible else 1.0
    )
    cover = con.execute(
        f"""
        WITH d AS (
          SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tok
          FROM read_parquet('{out["mixed"]}')),
        s AS (
          SELECT doc_id, tok_start, n_tok_in_chunk,
                 lag(tok_start + n_tok_in_chunk) OVER (
                   PARTITION BY doc_id ORDER BY tok_start) AS prev_end
          FROM read_parquet('{out["spans"]}')),
        agg AS (
          SELECT doc_id, sum(n_tok_in_chunk) AS covered, min(tok_start) AS lo,
                 max(tok_start + n_tok_in_chunk) AS hi,
                 count(*) FILTER (WHERE prev_end IS NOT NULL AND prev_end <> tok_start)
                   AS gaps
          FROM s GROUP BY doc_id)
        SELECT count(*) FROM d FULL OUTER JOIN agg USING (doc_id)
        WHERE d.n_tok IS NULL OR agg.covered IS NULL OR agg.covered <> d.n_tok
           OR agg.lo <> 0 OR agg.hi <> d.n_tok OR agg.gaps > 0
        """
    ).fetchone()[0]
    if cover:
        fails.append(f"packed spans do not cover {cover} kept docs' tokens exactly once")
    con.close()
    return fails, {"near_pairs": len(pairs), "planted_recall": recall,
                   "planted_eligible": len(eligible)}
