"""Seeded inputs for the benchmark: the star schema, the text corpus and
the sync scenario (a ``*.shp`` file tree plus a Gather-shaped project
table).

Everything here is a pure function of ``seed`` and the size arguments,
so two runs with the same seed see byte-identical inputs.  The table
shapes follow the engine's fixture schemas (``FIXTURES.md`` section A):
same columns, same Arrow types, value domains close to the synthetic
testdata the registry queries were written against.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query order "
    "stream filter group big vector"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
COLORS = "red blue green black white small large tiny".split()
NOUNS = "widget bolt ring anvil gear spring valve plate".split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.datetime, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + days, type=pa.timestamp("us"))


def documents(seed: int, n: int) -> list[str]:
    """The corpus texts: 10-100 words from a 30-word vocabulary; about
    5% are near copies of an earlier document (its text plus ``dup``),
    and some of those copies share a source, so exact duplicates exist
    too."""
    rng = np.random.default_rng([seed, 7])
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, int(k))) for k in lens]
    n_dup = max(2, n // 20)
    sources = rng.integers(0, n, n_dup // 2)
    for i, j in enumerate(rng.choice(n, n_dup, replace=False)):
        src = int(sources[i % len(sources)])
        if src != j:
            texts[j] = texts[src] + " dup"
    return texts


def write_tables(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> None:
    """Write the ten registry tables as one parquet file each."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32 = pa.int32()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(
            [f"{c} {w}" for c, w in zip(rng.choice(COLORS, n_part), rng.choice(NOUNS, n_part))]
        ),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), 2405, n_ord),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_li)),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n_li)),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), 2499, n_li),
    })
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 150), n_ev)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts = documents(seed, n_docs)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0.0, 0.07, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n_vecs, 64)) / 8.0 + centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })


# ---------------------------------------------------------------- sync


def _md5(body: bytes) -> str:
    return hashlib.md5(body).hexdigest()


def sync_scenario(root: str, seed: int, n_files: int) -> dict:
    """Write a ``*.shp`` tree under ``root`` and return the matching
    Gather project table plus the planted-case counts.

    Cases planted against the tree, in exact numbers for every seed:

    - keep (70% of ``n_files``): project carries the file's current
      path and md5;
    - rename (10%, md5Match update): project carries an old path;
    - content change (10%, exactMatch update): same path, stale md5;
    - new file (10%): no project (insert);
    - alias copy (6%): a second copy of a kept file's body beside it,
      half with no project (insert), half with a project still naming
      the copy's old path (orphan second chance, update); in each half,
      half of the copies sort before the original and so become the
      canonical file of the duplicate group;
    - deleted file (5%): live project whose file is gone (archive);
    - projects without ``metadata.file`` (2%, ignored by the sync);
    - already-archived projects whose file is gone (2%).

    Decoy files (``.dbf``, ``.shx``, ``.txt``) sit beside 30% of the
    shapes and must never be admitted.
    """
    rng = np.random.default_rng([seed, 11])
    bodies = documents(seed, max(n_files // 4, 50))
    dirs = [f"region_{a}/layer_{b}" for a in range(8) for b in range(6)]
    files: list[tuple[str, bytes]] = []
    seen_paths: set[str] = set()

    def new_path(prefix: str) -> str:
        while True:
            d = dirs[int(rng.integers(0, len(dirs)))]
            p = f"{d}/{prefix}_{int(rng.integers(0, 10**9)):09d}.shp"
            if p not in seen_paths:
                seen_paths.add(p)
                return p

    # every main file gets a unique body: a corpus text plus a salt, so
    # only the planted alias copies share an md5
    def body(i: int) -> bytes:
        return f"{bodies[i % len(bodies)]} #{seed}:{i}\n".encode()

    projects: list[dict] = []
    pid = iter(range(1_000, 10**9))
    counts = dict.fromkeys(
        ("keep", "rename", "content", "new", "alias_new", "alias_orphan",
         "deleted", "no_file", "archived"), 0,
    )
    # exact case counts, so every seed plants the same amount of work
    n_case = n_files // 10
    kinds = ["rename"] * n_case + ["content"] * n_case + ["new"] * n_case
    kinds = rng.permutation(kinds + ["keep"] * (n_files - len(kinds)))
    keep_idx = np.flatnonzero(kinds == "keep")
    # alias cases: {with an orphan project, without} x {copy sorts
    # before the original (it becomes the canonical file), after}
    n_alias = 4 * max(1, n_files * 3 // 200)
    alias_of = dict(zip(
        rng.choice(keep_idx, n_alias, replace=False).tolist(),
        [(o, b) for _ in range(n_alias // 4) for o in (True, False) for b in (True, False)],
    ))
    for i, kind in enumerate(kinds):
        path, data = new_path("shape"), body(i)
        files.append((path, data))
        counts[str(kind)] += 1
        if kind == "new":
            continue
        p_file, p_md5 = path, _md5(data)
        if kind == "rename":
            p_file = new_path("old")
        elif kind == "content":
            p_md5 = _md5(data + b"stale")
        projects.append(_project(next(pid), p_file, p_md5))
        if i in alias_of:
            orphan, before = alias_of[i]
            copy = path.replace("/shape_", "/0copy_" if before else "/zcopy_")
            seen_paths.add(copy)
            files.append((copy, data))
            if orphan:
                # a project still naming the copy's pre-rename path
                projects.append(_project(next(pid), new_path("copy_old"), _md5(data)))
                counts["alias_orphan"] += 1
            else:
                counts["alias_new"] += 1
    for _ in range(n_files // 20):
        projects.append(_project(next(pid), new_path("gone"), _md5(rng.bytes(8))))
        counts["deleted"] += 1
    for _ in range(n_files // 50):
        projects.append({"id": next(pid), "metadata": {"iam": "gatherbot", "file": None},
                         "archived": False})
        counts["no_file"] += 1
    for _ in range(n_files // 50):
        pr = _project(next(pid), new_path("archived"), _md5(rng.bytes(8)))
        pr["archived"] = True
        projects.append(pr)
        counts["archived"] += 1

    decoy_idx = set(rng.choice(len(files), len(files) * 3 // 10, replace=False).tolist())
    for i, (path, data) in enumerate(files):
        full = os.path.join(root, path)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "wb") as fh:
            fh.write(data)
        if i in decoy_idx:
            ext = (".dbf", ".shx", ".txt")[i % 3]
            with open(full[: -len(".shp")] + ext, "wb") as fh:
                fh.write(data[::-1])
    admitted = {p: _md5(d) for p, d in files}
    return {
        "projects": projects,
        "files": admitted,
        "tree_bytes": sum(len(d) for _, d in files),
        "counts": counts | {"decoys": len(decoy_idx), "files": len(files)},
    }


def _project(pid: int, p_file: str, p_md5: str) -> dict:
    return {
        "id": pid,
        "metadata": {"iam": "gatherbot", "file": {"file": p_file, "md5": p_md5}},
        "archived": False,
    }
