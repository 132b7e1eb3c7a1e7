"""Output check for the graft end-to-end benchmark, run after the timed
phases: every distinct result an op returned is hash-compared against the
op's DuckDB oracle (`SparkEntry.oracleSql`) on the generated inputs.

Columns are sorted by name, rows by value, and cells compared as strings
with full float precision, the same canonical form tools/check.py uses.
A memory read must match the oracle for one of the WAL generations that
could have been visible to it, and an `m4_stats` read must also count
exactly the memory keys the generator computed for that generation.
"""
import glob
import math
import os

import duckdb


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NULL" if math.isnan(v) else repr(v)
        return str(v)
    rows = [tuple(cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    rows.sort()
    return rows


def connect(views):
    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute("SET threads=4")
    for name, paths in views.items():
        files = ", ".join(f"'{p}'" for p in paths)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{files}])")
    return con


def read_dump(con, path):
    return canon(con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df())


class Oracle:
    """Cached oracle results per (op, inputs key)."""

    def __init__(self, sql):
        self.sql = sql
        self.cache = {}

    def expected(self, op, key, views):
        if (op, key) not in self.cache:
            con = connect(views)
            try:
                self.cache[(op, key)] = canon(con.sql(self.sql[op]).df())
            finally:
                con.close()
        return self.cache[(op, key)]


def check(raw, work, input_dir, manifest, oracle_sql):
    """Returns (failed op count, list of failure notes)."""
    oracle = Oracle(oracle_sql)
    reader = duckdb.connect()
    notes, failed = [], 0
    ops = raw["ops"]
    for o in ops:
        if o["error"]:
            notes.append(f"{o['op']}: {o['error']}")
    wl = raw["workload"]
    if wl == "rag_serve":
        corpus = os.path.join(input_dir, "corpus")
        views = {t: [os.path.join(corpus, f"{t}.parquet")] for t in ("documents", "embeddings")}
        verdict = {}
        for o in ops:
            if o["error"]:
                failed += 1
                continue
            key = (o["op"], o["digest"])
            if key not in verdict:
                got = read_dump(reader, os.path.join(work, "results", *key))
                verdict[key] = got == oracle.expected(o["op"], "corpus", views)
                if not verdict[key]:
                    notes.append(f"{o['op']}: result {o['digest']} differs from oracle")
            failed += not verdict[key]
    elif wl == "memory_lifecycle":
        wal = os.path.join(input_dir, "corpus", "events.parquet")
        base = sorted(glob.glob(os.path.join(wal, "part-*.parquet")))
        batches = sorted(os.path.basename(p) for p in
                         glob.glob(os.path.join(input_dir, "wal_batches", "*.parquet")))
        counts = manifest["key_counts"]

        def views(g):
            return {"events": base + [os.path.join(wal, b) for b in batches[:g]]}

        matched = {}
        for o in ops:
            if o["error"]:
                failed += 1
                continue
            key = (o["op"], o["digest"])
            got = matched.setdefault(key, {"rows": None, "gens": {}})
            if got["rows"] is None:
                got["rows"] = read_dump(reader, os.path.join(work, "results", *key))
            ok = False
            for g in range(o["lo"], o["hi"] + 1):
                if g not in got["gens"]:
                    same = got["rows"] == oracle.expected(o["op"], g, views(g))
                    if same and o["op"] == "m4_stats":
                        total = reader.sql(
                            f"SELECT total_memories FROM read_parquet("
                            f"'{os.path.join(work, 'results', *key)}/*.parquet')").fetchone()[0]
                        same = total == counts[g]
                    got["gens"][g] = same
                ok = ok or got["gens"][g]
            if not ok:
                failed += 1
                notes.append(f"{o['op']}: result {o['digest']} matches no WAL generation "
                             f"in [{o['lo']}, {o['hi']}]")
        for e in raw["events"]:
            if e.get("kind") == "append" and e.get("error"):
                failed += 1
                notes.append(f"append {e['index']}: {e['error']}")
    elif wl == "curation_batch":
        for o in ops:
            if o["error"]:
                failed += 1
                continue
            shard = o["target"].split("/")[0]
            views = {"documents": [os.path.join(input_dir, "shards", shard, "documents.parquet")]}
            got = read_dump(reader, os.path.join(work, "out", o["target"]))
            if got != oracle.expected(o["op"], shard, views):
                failed += 1
                notes.append(f"{o['target']}: output differs from oracle")
    reader.close()
    return failed, notes
