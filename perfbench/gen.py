"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (kind, seed, recipe): the same seed
writes byte-identical files, a different seed writes different ones.
Outputs are cached under ``<state>/inputs/<kind>-s<seed>-<recipe hash>``
so generation never falls inside a timed window or inside ``setup_s``.
The recipe hash covers the recipe constants and this file's source, so
editing a generator invalidates its cache.

Two input kinds:

- ``tiles``: an ArcGIS exploded cache (``L%02d/R%08x/C%08x.jpg``) in
  shards, with incompressible JPEG-sized payloads and a seeded per-key
  fault schedule for the object store (transient 503/429, permanent 403).
- ``tables``: a TPC-H-like star schema plus ``events`` and a curation
  corpus (``documents``) with controlled shares of exact duplicates,
  near-duplicate clusters and quality-gate failures. One single-row-group
  parquet file per table, the layout of the repository's own fixtures.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

# Tile shards: each shard is one disjoint window of rows x cols per
# level of the reference extent's level 5-11 grid, the way an exploded
# cache is split for upload; "tiles_per_shard" of its cells are present.
TILES = {
    "windows": {5: (3, 5), 6: (3, 6), 7: (4, 8), 8: (4, 10), 9: (6, 12),
                10: (8, 16), 11: (12, 24)},
    "shards": 4,
    "tiles_per_shard": 60,
    "payload_bytes": (4096, 12288),
    "transient_share": 0.04,  # one 503 or 429, then success
    "permanent_share": 0.01,  # 403: never stored, dead-lettered
}

# Tables: row counts at scale factor 1 (TPC-H convention); the
# benchmark writes SCALE x these.
TABLES = {
    "scale": 0.1,
    "rows_at_sf1": {
        "customer": 150_000,
        "supplier": 10_000,
        "part": 200_000,
        "orders": 1_500_000,
        "events": 1_000_000,
        "events_users": 15_000,
        "documents": 20_000,
    },
    "doc_exact_dup_share": 0.05,
    "doc_near_dup_share": 0.10,
    "doc_quality_fail_share": 0.10,
}

RECIPES = {"tiles": TILES, "tables": TABLES}


def recipe_hash(kind: str) -> str:
    with open(os.path.abspath(__file__), "rb") as f:
        src = f.read()
    blob = json.dumps([kind, RECIPES[kind]], sort_keys=True).encode() + src
    return hashlib.sha256(blob).hexdigest()[:12]


def content_hash(root: str) -> str:
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            if name == "_DONE":
                continue
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def cached(kind: str, seed: int, state_dir: str) -> str:
    """Directory holding the (kind, seed) inputs, generating them once."""
    out = os.path.join(
        state_dir, "inputs", f"{kind}-s{seed}-{recipe_hash(kind)}"
    )
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[kind](np.random.default_rng([seed, _KIND_SALT[kind]]), tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write(content_hash(tmp))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


# ---------------------------------------------------------------- tiles


def _shard_cells(rng: np.random.Generator) -> list[np.ndarray]:
    """Per shard, (level, row, col) of every cell in its windows, using
    the engine's own per-level bounds of the reference extent."""
    from tile_etl_spark.tiles.grid import level_bounds

    n = TILES["shards"]
    cells: list[list[np.ndarray]] = [[] for _ in range(n)]
    for level, (h, w) in sorted(TILES["windows"].items()):
        r0, r1, c0, c1 = level_bounds(level)
        nr, nc = (r1 - r0 + 1) // h, (c1 - c0 + 1) // w
        if nr * nc < n:
            raise ValueError(f"level {level} has fewer than {n} windows")
        for s, win in enumerate(rng.permutation(nr * nc)[:n]):
            rows, cols = np.meshgrid(
                r0 + (win // nc) * h + np.arange(h),
                c0 + (win % nc) * w + np.arange(w),
                indexing="ij",
            )
            cells[s].append(
                np.stack([np.full(rows.size, level), rows.ravel(), cols.ravel()], 1)
            )
    return [np.concatenate(c) for c in cells]


def _gen_tiles(rng: np.random.Generator, out: str) -> None:
    r = TILES
    n = r["tiles_per_shard"]
    # Every shard gets the same fault counts and the same multiset of
    # payload sizes, in its own seeded order, so shards cost the same
    # and the op-wall median does not jump between shard clusters.
    n_perm = round(n * r["permanent_share"])
    n_trans = round(n * r["transient_share"])
    faults = [403] * n_perm + [(503, 429)[i % 2] for i in range(n_trans)]
    faults += [None] * (n - len(faults))
    lo, hi = r["payload_bytes"]
    sizes = rng.integers(lo, hi + 1, n)
    for s, cells in enumerate(_shard_cells(rng)):
        if len(cells) < n:
            raise ValueError("tile windows hold fewer cells than a shard needs")
        shard = cells[np.sort(rng.permutation(len(cells))[:n])]
        sdir = os.path.join(out, f"shard{s:02d}")
        manifest = []
        order = rng.permutation(n)
        for (level, row, col), fault, size in zip(
            shard, (faults[i] for i in order), sizes[rng.permutation(n)]
        ):
            level, row, col = int(level), int(row), int(col)
            rel = f"L{level:02d}/R{row & 0xFFFFFFFF:08x}/C{col & 0xFFFFFFFF:08x}.jpg"
            body = rng.bytes(int(size))
            path = os.path.join(sdir, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(body)
            manifest.append({
                "key": f"Lite/{level}/{row}/{col}",
                "path": rel,
                "level": level,
                "md5": hashlib.md5(body).hexdigest(),
                "fault": fault,
            })
        with open(os.path.join(out, f"shard{s:02d}.json"), "w") as f:
            json.dump(manifest, f)


def tile_shards(root: str) -> list[tuple[str, list[dict]]]:
    """[(shard dir, manifest)] in shard order."""
    out = []
    for s in range(TILES["shards"]):
        with open(os.path.join(root, f"shard{s:02d}.json")) as f:
            out.append((os.path.join(root, f"shard{s:02d}"), json.load(f)))
    return out


# --------------------------------------------------------------- tables

_ADJ = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_VOCAB = (
    "the a of and data value query row stream batch sort hash filter big "
    "dup part column order scan slow agg key window table merge vector "
    "join spark line small fast group customer"
).split()
_CONTENT = [w for w in _VOCAB if w not in ("the", "a", "of", "and", "data", "value")]
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: str, name: str, cols: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(cols)
    # one file, one row group: the layout io._scan_path re-lays out
    pq.write_table(
        table, os.path.join(out, f"{name}.parquet"),
        row_group_size=max(1, table.num_rows), compression="snappy",
    )


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Curation corpus texts with controlled funnel shares."""
    r = TABLES
    texts: list[str] = []
    role = rng.random(n)
    d_exact = r["doc_exact_dup_share"]
    d_near = d_exact + r["doc_near_dup_share"]
    d_bad = d_near + r["doc_quality_fail_share"]
    for i in range(n):
        p = role[i]
        if i > 0 and p < d_exact:
            # exact duplicate after normalization: case and punctuation
            src = texts[int(rng.integers(0, i))]
            texts.append(src.upper() + " !" if rng.random() < 0.5 else src + ".")
        elif i > 0 and p < d_near:
            # near duplicate: one token replaced in a long text (3-gram
            # Jaccard stays >= 0.8 when the source has >= 40 tokens)
            toks = texts[int(rng.integers(0, i))].split(" ")
            if len(toks) >= 40:
                toks[int(rng.integers(0, len(toks)))] = _CONTENT[
                    int(rng.integers(0, len(_CONTENT)))
                ]
            texts.append(" ".join(toks))
        elif p < d_bad:
            kind = int(rng.integers(0, 4))
            if kind == 0:  # too short
                toks = list(rng.choice(_VOCAB, 3))
            elif kind == 1:  # too long
                toks = list(rng.choice(_VOCAB, 90))
            elif kind == 2:  # repetitive
                toks = ["data"] * 30 + list(rng.choice(_CONTENT, 10))
            else:  # no stopword
                toks = list(rng.choice(_CONTENT, 30))
            texts.append(" ".join(toks))
        else:
            texts.append(
                " ".join(rng.choice(_VOCAB, int(rng.integers(10, 78))))
            )
    return texts


def _gen_tables(rng: np.random.Generator, out: str) -> None:
    sf = TABLES["scale"]
    n = {k: max(1, int(v * sf)) for k, v in TABLES["rows_at_sf1"].items()}
    _write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    nc = n["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    })
    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    _write(out, "part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(rng.choice(_ADJ, npart), " "), rng.choice(_NOUN, npart)
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": rng.choice(_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, npart) / 10, 1),
    })
    no = n["orders"]
    odate = _EPOCH_1995 + rng.integers(0, 2405, no) * np.timedelta64(1, "D")
    _write(out, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    lkey = np.repeat(np.arange(no, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": lkey,
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": (np.arange(nl) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), nl),
        "l_linestatus": rng.choice(("F", "O"), nl),
        "l_shipdate": np.repeat(odate, lines)
        + rng.integers(1, 122, nl) * np.timedelta64(1, "D"),
    })
    ne = n["events"]
    _write(out, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _EPOCH_2024 + rng.integers(0, 30 * _DAY_US, ne) * np.timedelta64(1, "us"),
        "user_id": rng.integers(0, n["events_users"], ne).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, ne).astype(str)), "}"
        ),
    })
    nd = n["documents"]
    texts = _documents(rng, nd)
    _write(out, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=(0.4, 0.15, 0.15, 0.15, 0.15)),
        "source": np.char.add("src", rng.integers(0, 20, nd).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


GENERATORS = {"tiles": _gen_tiles, "tables": _gen_tables}
_KIND_SALT = {"tiles": 1, "tables": 2}


def self_check(state_dir: str, seeds: tuple[int, int] = (1, 2)) -> dict:
    """Generate every kind twice for one seed and once for another, in
    separate cache roots; the same seed must give the same content hash
    and the other seed a different one. Returns the hashes."""
    out = {}
    for kind in GENERATORS:
        a = content_hash(cached(kind, seeds[0], os.path.join(state_dir, "a")))
        b = content_hash(cached(kind, seeds[0], os.path.join(state_dir, "b")))
        c = content_hash(cached(kind, seeds[1], os.path.join(state_dir, "a")))
        if a != b:
            raise AssertionError(f"{kind}: seed {seeds[0]} is not reproducible")
        if a == c:
            raise AssertionError(f"{kind}: seeds {seeds} give the same inputs")
        out[kind] = (a, c)
    return out

