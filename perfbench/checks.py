"""Correctness checks on the outputs a pass leaves in its directory.

Each check returns a dict with "ok" and what it measured; a failed check
names the invariant it broke. None of this is timed.
"""
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds


def _files(top, suffix):
    return [os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
            if f.endswith(suffix) and not f.startswith((".", "_"))]


def _count(mask):
    return pc.sum(pc.cast(mask, pa.int64())).as_py() or 0


def wordstats_invariants(table, truth):
    """The reference's four golden invariants on a word-stats table
    (columns word, word_len, word_truncated, words_count and a file
    column), against the generator's truth. Returns the broken ones."""
    file_col = "file_path" if "file_path" in table.column_names else "file"
    t = table.select(["word", file_col, "word_len", "word_truncated", "words_count"])
    n = t.num_rows
    broken = []
    keys = t.group_by(["word", file_col]).aggregate([]).num_rows
    if keys != n:
        broken.append("duplicate (word, file) rows: %d" % (n - keys))
    per_file = t.group_by([file_col, "words_count"]).aggregate([])
    files = len(pc.unique(per_file[file_col]))
    if files != truth["files"]:
        broken.append("distinct files %d != %d written" % (files, truth["files"]))
    if per_file.num_rows != files:
        broken.append("a file carries more than one words_count")
    total = pc.sum(per_file["words_count"]).as_py() or 0
    if total != truth["tokens"]:
        broken.append("sum(words_count) %d != %d generated tokens" % (total, truth["tokens"]))
    flag = t["word_truncated"]
    flag_bad = pc.or_(pc.not_equal(flag, pc.greater(t["word_len"], 255)),
                      pc.and_(flag, pc.not_equal(pc.utf8_length(t["word"]), 254)))
    bad = _count(pc.fill_null(flag_bad, True))
    if bad:
        broken.append("word_truncated disagrees with length on %d rows" % bad)
    truncated = _count(flag)
    if truncated != truth["truncated_rows"]:
        broken.append("truncated rows %d != %d generated" % (truncated, truth["truncated_rows"]))
    return broken, n


def check_wordstats(pass_dir, truth):
    """etl_wordstats: the Parquet sink's rows meet the golden invariants
    and the generator's row count, and the CSV sink holds as many rows."""
    table = ds.dataset(os.path.join(pass_dir, "parquet"), format="parquet").to_table()
    broken, n = wordstats_invariants(table, truth)
    if n != truth["rows"]:
        broken.append("rows %d != %d expected" % (n, truth["rows"]))
    csv_rows = 0
    for f in _files(os.path.join(pass_dir, "csv"), ".csv"):
        with open(f, "rb") as fh:
            csv_rows += sum(1 for _ in fh)
    if csv_rows != n:
        broken.append("csv rows %d != parquet rows %d" % (csv_rows, n))
    out = _files(os.path.join(pass_dir, "csv"), ".csv") + \
        _files(os.path.join(pass_dir, "parquet"), ".parquet")
    return {"check": "wordstats", "dir": pass_dir, "ok": not broken, "broken": broken,
            "rows": n, "files_out": len(out), "bytes_out": sum(os.path.getsize(f) for f in out)}


def pair_recall(pairs_table, planted):
    found = set(zip(pairs_table.column("doc_a").to_pylist(),
                    pairs_table.column("doc_b").to_pylist()))
    hit = sum(1 for a, b in planted if (min(a, b), max(a, b)) in found)
    return hit / len(planted)


def check_dedup(pass_dir, truth):
    """dedup_corpus: every planted twin pair is found, and both twins
    land in the same cluster."""
    pairs = ds.dataset(os.path.join(pass_dir, "pairs"), format="parquet").to_table()
    recall = pair_recall(pairs, truth["twin_pairs"])
    clusters = ds.dataset(os.path.join(pass_dir, "clusters"), format="parquet").to_table()
    cid = dict(zip(clusters.column("doc_id").to_pylist(), clusters.column("cluster_id").to_pylist()))
    split = [p for p in truth["twin_pairs"] if cid.get(p[0]) is None or cid.get(p[0]) != cid.get(p[1])]
    broken = []
    if recall != 1.0:
        broken.append("pair_recall %.4f < 1" % recall)
    if split:
        broken.append("%d planted pairs not in one cluster" % len(split))
    out = _files(os.path.join(pass_dir, "pairs"), ".parquet") + \
        _files(os.path.join(pass_dir, "clusters"), ".parquet")
    return {"check": "dedup", "dir": pass_dir, "ok": not broken, "broken": broken,
            "pair_recall": recall, "files_out": len(out),
            "bytes_out": sum(os.path.getsize(f) for f in out)}


def check_ingest(pass_dir, truth):
    """ingest_tranches: the streamed word stats meet the golden
    invariants, and the streamed pairs find every planted twin."""
    table = ds.dataset(os.path.join(pass_dir, "wordstats"), format="parquet",
                       partitioning="hive").to_table()
    broken, _ = wordstats_invariants(table, truth)
    pairs = ds.dataset(os.path.join(pass_dir, "pairs"), format="parquet",
                       partitioning="hive").to_table()
    recall = pair_recall(pairs, truth["twin_pairs"])
    if recall != 1.0:
        broken.append("pair_recall %.4f < 1" % recall)
    return {"check": "ingest", "dir": pass_dir, "ok": not broken, "broken": broken,
            "pair_recall": recall}


def check_catalog(ops, certified):
    """catalog_sf001: each query's result hash equals the certified one."""
    out = []
    for o in ops:
        want = certified.get(o["name"], {}).get("hash")
        out.append({"check": "catalog", "query": o["name"], "ok": o["hash"] == want,
                    "broken": [] if o["hash"] == want else ["hash %s != certified %s" % (o["hash"], want)]})
    return out

