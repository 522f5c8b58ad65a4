"""Seeded input generator and ground-truth replay model for the benchmark.

For each workload this writes the source files the program ingests and an
``expected.json`` holding everything the benchmark checks the program's
outputs against: per-cycle inserted/rotated/unchanged counts, the
order-independent checksum of ``(_oid, _start, _end, _hash)`` of the final
store, and the row count and checksum of every read op. The expectations
come from this file's own model of the data (plain Python, plus DuckDB for
the temporal queries), never from the program under test.

The same ``(workload, seed)`` gives byte-identical files.

    python3 perfbench/gen.py --workload snapshot_ingest --seed 1 --out DIR
"""

import argparse
import csv
import hashlib
import json
import os
import random
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("snapshot_ingest", "delta_sync", "warehouse_reads")

DAY = 86400
T0 = 1577836800  # 2020-01-01 00:00:00 UTC

STATUSES = ("open", "hold", "review", "closed")
OWNERS = ("ann", "bob", "cid", "dee", "eve", "fay", "gus", "hal", "ivy", "jon", "kai", "lea")
REGIONS = ("north", "south", "east", "west", "central", "remote")
DATA_COLS = ("id", "name", "status", "owner", "qty", "region")
# `id` is a reserved key the program leaves out of `_hash`.
HASH_COLS = tuple(sorted(c for c in DATA_COLS if c != "id"))

# Sizes. Each workload's inputs have a fixed shape; only their content
# depends on the seed, so runs with different seeds do the same amount of work.
# The row counts follow the tables of the sf0.1 test data the repo's own
# bench uses: an entity snapshot of 15,000 rows (`customer`), a version
# history of about 100,000 rows (`events`, an event log) and a graph on
# 20,000 nodes (`part`) with a mean out-degree of 2.5.
SNAP = dict(entities=15000, cycles=6, change=0.02, born=75, vanished=75)
DELTA = dict(entities=15000, cycles=4, batch=150, zipf_s=1.1, touch=0.1, born=10,
             compact_every=4, compact_files=2)
TEMPORAL = dict(entities=10000, chunks=2, mean_versions=11, max_versions=60, gap=0.05,
                open_share=0.8, grid_points=300)
GRAPH = dict(nodes=20000, edges=50000, zipf_s=1.05, pagerank_iters=1,
             label_prop_iters=1, damping=850)


# ------------------------------------------------------------ checksums

def canon(v):
    """Canonical text of one value; the Scala side renders identically."""
    t = type(v)
    if t is str:
        return v
    if t is int:
        return str(v)
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if not v.is_integer():
            raise ValueError(f"non-integral float in a checked column: {v!r}")
        return str(int(v))
    return str(v)


def row_hash(values):
    key = "|".join(map(canon, values))
    return int.from_bytes(hashlib.sha1(key.encode("utf-8")).digest()[:4], "big")


def checksum(rows):
    """Order-independent (row count, sum of 32-bit row hashes)."""
    n, s = 0, 0
    for r in rows:
        n += 1
        s += row_hash(r)
    return {"n": n, "sum": s}


_compact_json = json.JSONEncoder(separators=(",", ":")).encode


def content_hash(row):
    """The program's `_hash`: SHA-1 of the JSON object of the hashed
    columns, keys sorted, no whitespace (`to_json` over a name-sorted struct)."""
    doc = _compact_json({c: row[c] for c in HASH_COLS})
    return hashlib.sha1(doc.encode("utf-8")).hexdigest()


def store_checksum(versions):
    return checksum((v["id"], v["start"], v["end"], v["hash"]) for v in versions)


# ------------------------------------------------------------ entity model

def rng_for(workload, seed):
    return random.Random(zlib.crc32(workload.encode()) * 1000003 + seed)


def new_entity(rng, oid):
    return {
        "id": oid,
        "name": f"obj{oid}k{rng.randrange(1000)}",
        "status": rng.choice(STATUSES),
        "owner": rng.choice(OWNERS),
        "qty": rng.randrange(1000),
        "region": rng.choice(REGIONS),
    }


def mutate(rng, row):
    """Change one data field to a different value."""
    out = dict(row)
    field = rng.choice(("status", "owner", "qty", "region", "name"))
    while out[field] == row[field]:
        if field == "status":
            out[field] = rng.choice(STATUSES)
        elif field == "owner":
            out[field] = rng.choice(OWNERS)
        elif field == "region":
            out[field] = rng.choice(REGIONS)
        elif field == "qty":
            out[field] = rng.randrange(1000)
        else:
            out[field] = f"obj{row['id']}k{rng.randrange(1000)}"
    return out


class Scd2Model:
    """Reference SCD2 snapshot-upsert semantics, one version list per oid:
    a new oid inserts; an equal `_hash` is a no-op; a changed one closes the
    current version at the incoming `_start` and opens a new one. Oids
    absent from a batch are left untouched."""

    def __init__(self):
        self.versions = []
        self.current = {}  # oid -> index into versions

    def upsert(self, rows, start_of):
        ins = rot = same = 0
        for row in rows:
            h = content_hash(row)
            start = start_of(row)
            i = self.current.get(row["id"])
            if i is None:
                ins += 1
            elif self.versions[i]["hash"] == h:
                same += 1
                continue
            else:
                rot += 1
                self.versions[i]["end"] = start
            self.current[row["id"]] = len(self.versions)
            self.versions.append({**{c: row[c] for c in DATA_COLS},
                                  "start": start, "end": None, "hash": h})
        return {"inserted": ins, "rotated": rot, "unchanged": same}

    def current_rows(self):
        return [self.versions[i] for i in self.current.values()]


def current_read(rows, statuses, min_qty):
    return checksum((r["id"], r["qty"]) for r in rows
                    if r["status"] in statuses and r["qty"] >= min_qty)


# ------------------------------------------------------------ workloads

def gen_snapshot(rng, out):
    p = SNAP
    live = {i: new_entity(rng, i) for i in range(1, p["entities"] + 1)}
    next_id = p["entities"] + 1
    model = Scd2Model()
    cycles = []
    for c in range(p["cycles"]):
        ts = T0 + (c + 1) * DAY
        changed = sorted(live)
        if c > 0:
            changed = rng.sample(sorted(live), int(len(live) * p["change"]))
            for oid in changed:
                live[oid] = mutate(rng, live[oid])
            for oid in rng.sample(sorted(live), p["vanished"]):
                del live[oid]
            for _ in range(p["born"]):
                live[next_id] = new_entity(rng, next_id)
                next_id += 1
        path = os.path.join(out, f"snap_{c}.csv")
        with open(path, "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(DATA_COLS)
            for oid in sorted(live):
                w.writerow([live[oid][k] for k in DATA_COLS])
        counts = model.upsert([live[o] for o in sorted(live)], lambda r: ts)
        cur = model.current_rows()
        # point lookup of every version of one entity, changed this cycle
        # where possible, so that it has a history
        oid = rng.choice(sorted(set(changed) & set(live)) or sorted(live))
        point = checksum((v["id"], v["start"], v["end"], v["status"])
                         for v in model.versions if v["id"] == oid)
        cycles.append({
            "file": os.path.basename(path), "ts": ts, "bytes": os.path.getsize(path),
            "rows_in": len(live), **counts,
            "total_rows": len(model.versions), "current_rows": len(cur),
            "point_oid": oid,
            "reads": [current_read(cur, ("open",), 500), point],
        })
    return {"cycles": cycles, "final": store_checksum(model.versions),
            "read_queries": [{"statuses": ["open"], "min_qty": 500}]}


def zipf_sampler(rng, n, s):
    weights = [1.0 / (r + 1) ** s for r in range(n)]
    total = sum(weights)
    cum, acc = [], 0.0
    for w in weights:
        acc += w / total
        cum.append(acc)

    def draw():
        import bisect
        return min(bisect.bisect_left(cum, rng.random()), n - 1)
    return draw


def write_source(path, live):
    cols = list(DATA_COLS) + ["_mtime"]
    ids = sorted(live)
    table = pa.table({c: [live[i][c] for i in ids] for c in cols},
                     schema=pa.schema([("id", pa.int64()), ("name", pa.string()),
                                       ("status", pa.string()), ("owner", pa.string()),
                                       ("qty", pa.int64()), ("region", pa.string()),
                                       ("_mtime", pa.int64())]))
    pq.write_table(table, path)


def gen_delta(rng, out):
    p = DELTA
    live = {}
    for i in range(1, p["entities"] + 1):
        live[i] = {**new_entity(rng, i), "_mtime": T0 - DAY + rng.randrange(DAY)}
    next_id = p["entities"] + 1
    hot = list(range(1, p["entities"] + 1))
    rng.shuffle(hot)
    draw = zipf_sampler(rng, len(hot), p["zipf_s"])
    model = Scd2Model()
    cycles = []
    since = 0
    for c in range(p["cycles"]):
        ts = T0 + (c + 1) * DAY
        if c > 0:
            lo = T0 + c * DAY + 1
            for _ in range(p["batch"]):
                oid = hot[draw()]
                row = live[oid] if rng.random() < p["touch"] else mutate(rng, live[oid])
                live[oid] = {**row, "_mtime": lo + rng.randrange(DAY - 2)}
            for _ in range(p["born"]):
                live[next_id] = {**new_entity(rng, next_id), "_mtime": lo + rng.randrange(DAY - 2)}
                next_id += 1
        path = os.path.join(out, f"src_{c}.parquet")
        write_source(path, live)
        batch = [live[o] for o in sorted(live) if live[o]["_mtime"] >= since]
        counts = model.upsert(batch, lambda r: r["_mtime"])
        cur = model.current_rows()
        feed = [(v["id"], "open", v["start"]) for v in model.versions if v["start"] >= since]
        feed += [(v["id"], "close", v["end"]) for v in model.versions
                 if v["end"] is not None and v["end"] >= since]
        opened = sum(1 for v in model.versions if v["start"] >= since)
        closed = sum(1 for v in model.versions if v["end"] is not None and v["end"] >= since)
        cycles.append({
            "file": os.path.basename(path), "ts": ts, "since": since,
            "bytes": os.path.getsize(path), "rows_in": len(live), "incoming": len(batch),
            **counts, "opened": opened, "closed": closed,
            "total_rows": len(model.versions), "current_rows": len(cur),
            "compact": (c + 1) % p["compact_every"] == 0,
            "reads": [current_read(cur, ("open", "hold"), 500), checksum(feed)],
        })
        since = ts
    return {"cycles": cycles, "final": store_checksum(model.versions),
            "compact_files": p["compact_files"],
            "read_queries": [{"statuses": ["open", "hold"], "min_qty": 500}]}


def fmt_ts(t):
    import datetime
    return datetime.datetime.fromtimestamp(t, datetime.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def gen_temporal(rng, out):
    p = TEMPORAL
    versions = []
    horizon = T0
    for oid in range(1, p["entities"] + 1):
        row = new_entity(rng, oid)
        t = T0 + rng.randrange(30 * DAY)
        n = min(p["max_versions"], 1 + int(rng.expovariate(1.0 / (p["mean_versions"] - 1))))
        for k in range(n):
            end = t + 3600 + rng.randrange(5 * DAY)
            last = k == n - 1
            if last and rng.random() < p["open_share"]:
                end = None
            versions.append({**row, "start": t, "end": end, "hash": content_hash(row)})
            if end is not None:
                horizon = max(horizon, end)
                t = end + (1 + rng.randrange(2 * DAY) if rng.random() < p["gap"] else 0)
                row = mutate(rng, row)
            horizon = max(horizon, t)
    chunks = []
    schema = pa.schema([("id", pa.int64()), ("name", pa.string()), ("status", pa.string()),
                        ("owner", pa.string()), ("qty", pa.int64()), ("region", pa.string()),
                        ("start", pa.int64()), ("end", pa.int64())])
    for c in range(p["chunks"]):
        part = [v for v in versions if v["id"] % p["chunks"] == c]
        path = os.path.join(out, f"versions_{c}.parquet")
        pq.write_table(pa.table({f.name: [v[f.name] for v in part] for f in schema}, schema=schema),
                       path)
        chunks.append({"file": os.path.basename(path),
                       "bytes": os.path.getsize(path), "rows_in": len(part),
                       "inserted": len(part), "rotated": 0, "unchanged": 0,
                       "total_rows": sum(1 for v in versions if v["id"] % p["chunks"] <= c)})
    return chunks, store_checksum(versions), temporal_queries(rng, versions, horizon)


def temporal_queries(rng, versions, horizon):
    import duckdb
    p = TEMPORAL
    con = duckdb.connect()
    cols = list(DATA_COLS) + ["start", "end"]
    con.register("v_arrow", pa.table({c: [v[c] for v in versions] for c in cols}))
    con.execute('CREATE TABLE v AS SELECT id AS _oid, id, name, status, owner, qty, region, '
                'CAST(start AS DOUBLE) AS _start, CAST("end" AS DOUBLE) AS _end FROM v_arrow')
    span = horizon - T0

    # Parameters sit at fixed fractions of the history, with a day of seeded
    # jitter, so that every seed asks for similar selectivity.
    def at(frac):
        return T0 + int(span * frac) + rng.randrange(DAY)

    def rows(sql):
        return con.execute(sql).fetchall()

    # each query function returns (params for the Scala side, checked columns, SQL)
    def find_current():
        s = "open"
        return ({"query": f"status == '{s}'", "date": None}, ["_oid", "qty"],
                f"SELECT _oid, qty FROM v WHERE status = '{s}' AND _end IS NULL")

    def point():
        oid = 1 + rng.randrange(p["entities"])
        return ({"query": f"_oid == {oid}", "date": "~"}, ["_oid", "_start", "_end", "status"],
                f"SELECT _oid, _start, _end, status FROM v WHERE _oid = {oid}")

    def find_asof():
        d, q = at(0.5), 500
        return ({"query": f"qty >= {q}", "date": fmt_ts(d)}, ["_oid", "_start"],
                f"SELECT _oid, _start FROM v WHERE qty >= {q} AND _start < {d} "
                f"AND (_end >= {d} OR _end IS NULL)")

    def find_window():
        a, b = at(0.3), at(0.6)
        o1, o2 = OWNERS[:2]
        return ({"query": f"owner in ['{o1}', '{o2}']", "date": f"{fmt_ts(a)}~{fmt_ts(b)}"},
                ["_oid", "_start"],
                f"SELECT _oid, _start FROM v WHERE owner IN ('{o1}', '{o2}') AND _start < {b} "
                f"AND (_end >= {a} OR _end IS NULL)")

    def on_date():
        d = at(0.5)
        return ({"t": d}, ["_oid", "_start"],
                f"SELECT _oid, _start FROM v WHERE _start <= {d} AND (_end > {d} OR _end IS NULL)")

    def history():
        n = p["grid_points"]
        lo = at(0.1)
        step = (horizon - lo) // n
        grid = [lo + i * step for i in range(n)]
        values = ", ".join(f"({g})" for g in grid)
        return ({"grid": grid}, ["date", "n"],
                f"SELECT g.d, count(*) FROM (VALUES {values}) g(d) JOIN v ON _start <= g.d "
                f"AND (_end > g.d OR _end IS NULL) GROUP BY g.d")

    def last_version():
        return ({}, ["_oid", "_start"],
                "SELECT _oid, max(_start) FROM v GROUP BY _oid")

    def last_age():
        cut = at(0.7)
        return ({"t": cut}, ["_oid", "_start", "age"],
                f"SELECT _oid, _start, least(coalesce(_end, {cut}), {cut}) - first_start FROM "
                f"(SELECT *, min(_start) OVER (PARTITION BY _oid) first_start, row_number() OVER "
                f"(PARTITION BY _oid ORDER BY _start DESC) rn FROM v) WHERE rn = 1")

    def last_chain():
        return ({}, ["_oid", "_start"],
                "WITH g AS (SELECT *, CASE WHEN lag(_end) OVER w IS NULL OR lag(_end) OVER w = "
                "_start THEN 0 ELSE 1 END AS gap FROM v WINDOW w AS (PARTITION BY _oid ORDER BY "
                "_start)), c AS (SELECT *, sum(gap) OVER (PARTITION BY _oid ORDER BY _start ROWS "
                "BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chain FROM g) "
                "SELECT _oid, _start FROM c WHERE chain = (SELECT max(chain) FROM c c2 "
                "WHERE c2._oid = c._oid)")

    def change_feed():
        t = at(0.8)
        return ({"t": t}, ["_oid", "change_op", "change_at"],
                f"SELECT _oid, 'open', _start FROM v WHERE _start >= {t} UNION ALL "
                f"SELECT _oid, 'close', _end FROM v WHERE _end IS NOT NULL AND _end >= {t}")

    def dfind():
        k = 50
        fields = DATA_COLS
        diffs = " UNION ALL ".join(
            f"SELECT _oid, _start, '{f}', CAST(prev_{f} AS VARCHAR), CAST({f} AS VARCHAR) "
            f"FROM w WHERE prev_start IS NOT NULL AND prev_{f} IS DISTINCT FROM {f}"
            for f in fields)
        lags = ", ".join(f"lag({f}) OVER o AS prev_{f}" for f in fields)
        return ({"query": f"_oid <= {k}"}, ["_oid", "_start", "field", "old_value", "new_value"],
                f"WITH w AS (SELECT *, lag(_start) OVER o AS prev_start, {lags} FROM v "
                f"WHERE _oid <= {k} WINDOW o AS (PARTITION BY _oid ORDER BY _start)) {diffs}")

    def count_q():
        s, d = "hold", at(0.4)
        return ({"query": f"status == '{s}'", "date": fmt_ts(d)}, ["count"],
                f"SELECT count(*) FROM v WHERE status = '{s}' AND _start < {d} "
                f"AND (_end >= {d} OR _end IS NULL)")

    def distinct_q():
        q = 500
        return ({"query": f"qty < {q}", "date": None, "field": "owner"}, ["owner"],
                f"SELECT DISTINCT owner FROM v WHERE qty < {q} AND _end IS NULL")

    kinds = [("find_current", find_current), ("point", point), ("find_asof", find_asof),
             ("find_window", find_window), ("on_date", on_date), ("history", history),
             ("last_version", last_version), ("last_age", last_age),
             ("last_chain", last_chain), ("change_feed", change_feed), ("dfind", dfind),
             ("count", count_q), ("distinct", distinct_q)]
    out = []
    for kind, build in kinds:
        params, cols, sql = build()
        out.append({"kind": kind, "params": params, "cols": cols, **checksum(rows(sql))})
    return out


def gen_graph(rng, out):
    """A power-law edge table, written as plain parquet that the walks read
    directly, and the expected walk results."""
    p = GRAPH
    draw = zipf_sampler(rng, p["nodes"], p["zipf_s"])
    perm = list(range(1, p["nodes"] + 1))
    rng.shuffle(perm)
    edges = [(1 + rng.randrange(p["nodes"]), perm[draw()]) for _ in range(p["edges"])]
    path = os.path.join(out, "edges.parquet")
    schema = pa.schema([("src", pa.int64()), ("dst", pa.int64())])
    pq.write_table(pa.table({"src": [e[0] for e in edges], "dst": [e[1] for e in edges]},
                            schema=schema), path)
    ranks = pagerank(edges, p["pagerank_iters"], p["damping"])
    labels = label_prop(edges, p["label_prop_iters"])
    walks = [{"kind": "pagerank", "params": {"iters": p["pagerank_iters"]},
              **checksum(ranks.items())},
             {"kind": "label_prop", "params": {"iters": p["label_prop_iters"]},
              **checksum(labels.items())}]
    return os.path.basename(path), walks


def gen_reads(rng, out):
    """A deep version history, a power-law edge table, and one read op of
    each kind over them, in seeded order."""
    chunks, final, queries = gen_temporal(rng, out)
    edges, walks = gen_graph(rng, out)
    queries += walks
    rng.shuffle(queries)
    return {"cycles": chunks, "final": final, "edges_file": edges, "queries": queries}


def pagerank(edge_list, iters, d):
    """Integer fixed-point PageRank with the program's documented
    arithmetic, in the nano unit (small graphs select it)."""
    edges = sorted(set(edge_list))
    nodes = sorted({n for e in edges for n in e})
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    u = 10 ** 9
    base = (1000 - d) * (u // 1000)
    r = {n: u for n in nodes}
    for _ in range(iters):
        acc = {n: 0 for n in nodes}
        for s, t in edges:
            acc[t] += r[s] // deg[s]
        r = {n: base + (d * acc[n]) // 1000 for n in nodes}
    return r


def label_prop(edge_list, iters):
    """Synchronous label propagation on the symmetrized simple graph:
    each node takes its neighbours' most frequent label, ties to the
    lowest label."""
    sym = set()
    for s, t in edge_list:
        if s != t:
            sym.add((s, t))
            sym.add((t, s))
    nbrs = {}
    for s, t in sym:
        nbrs.setdefault(t, []).append(s)
    labels = {n: n for n in nbrs}
    for _ in range(iters):
        nxt = {}
        for n, srcs in nbrs.items():
            votes = {}
            for s in srcs:
                votes[labels[s]] = votes.get(labels[s], 0) + 1
            nxt[n] = min(votes, key=lambda lab: (-votes[lab], lab))
        labels = nxt
    return labels


GENERATORS = {"snapshot_ingest": gen_snapshot, "delta_sync": gen_delta,
              "warehouse_reads": gen_reads}


def generate(workload, seed, out):
    """Write the inputs and expected.json for one (workload, seed) into `out`."""
    os.makedirs(out, exist_ok=True)
    expected = GENERATORS[workload](rng_for(workload, seed), out)
    expected.update({"workload": workload, "seed": seed})
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
