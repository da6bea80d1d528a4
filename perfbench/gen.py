"""Seeded load generator: the pages parquet every workload reads.

The pages are row-for-row the table `geospark.io.pages.generate_pages`
describes (same url, html, text, lang and page_id for a given seed; the
page coordinates come from its public `page_coords`), but they are
assembled here with vectorised Arrow string kernels and written with
pyarrow.  The engine's own row builder, `geospark.io.pages._build_rows`,
formats every row through numpy's per-element string functions: on a
4-core host one million pages take it about 52 s in one process and
12.5 s in four, against 3.6 s here in one, and every run generates its
pages for a fresh seed.  The self-test pins the equality on a small
table.

Generated tables are cached under the work directory, keyed by
(seed, size), with a manifest holding the row count and a SHA-256 of
every file; a cached table is reused only when both still match.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from geospark.io.pages import LANGS, WORDS, generate_districts, page_coords

# parquet files per pages table (Spark packs them into about one scan
# partition per core)
N_FILES = 16

_GAMMA = np.uint64(0x9E3779B97F4A7C15)


def _hash(ids: np.ndarray, salt: int, seed: int) -> np.ndarray:
    """splitmix64 of (id xor seed-salt), the generator's per-field hash."""
    with np.errstate(over="ignore"):
        z = ids.astype(np.uint64) ^ np.uint64(seed * 1315423911 + salt)
        z = z + _GAMMA
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _pick(table: np.ndarray, h: np.ndarray) -> pa.Array:
    return pc.take(pa.array(table), pa.array((h % np.uint64(len(table))).astype(np.int64)))


def _fmt2(v: np.ndarray) -> pa.Array:
    """'%.2f' of non-negative doubles, via integer cents."""
    cents = np.rint(v * 100.0).astype(np.int64)
    whole = pc.cast(pa.array(cents // 100), pa.string())
    frac = pc.utf8_lpad(pc.cast(pa.array(cents % 100), pa.string()), 2, "0")
    return pc.binary_join_element_wise(whole, frac, ".")


def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def build_pages(ids: np.ndarray, seed: int) -> pa.Table:
    """Pages with the given ids (int64), as one Arrow table."""
    x, y, kind = page_coords(ids, seed)
    sid = pa.array(ids.astype(np.int64))
    lang = _pick(LANGS, _hash(ids, 7, seed))
    nw = 5 + (_hash(ids, 8, seed) % np.uint64(12)).astype(np.int64)
    words = [_pick(WORDS, _hash(ids, s, seed)) for s in (9, 10, 11)]
    base = pc.binary_join_element_wise(*words, "", " ")  # "w1 w2 w3 "
    body = pc.utf8_rtrim_whitespace(pc.binary_repeat(base, pa.array(nw // 3 + 1)))
    half = 150.0
    geo_pt = _cat(" geo:", _fmt2(x), ",", _fmt2(y))
    geo_bb = _cat(
        " bbox:", _fmt2(np.maximum(0.0, x - half)), ",", _fmt2(np.maximum(0.0, y - half)),
        ",", _fmt2(x + half), ",", _fmt2(y + half),
    )
    suffix = pc.if_else(
        pa.array(kind == 1), geo_pt, pc.if_else(pa.array(kind == 2), geo_bb, "")
    )
    text = _cat(body, suffix)
    sid_s = pc.cast(sid, pa.string())
    url = _cat(
        "https://site", pc.cast(pa.array(ids.astype(np.int64) % 997), pa.string()),
        ".example.org/page/", sid_s,
    )
    html = _cat(
        "<html><head><title>p", sid_s, "</title></head><body><p>", text,
        "</p></body></html>",
    )
    i64 = ids.astype(np.int64)
    ts = pa.array(1490000000 + (i64 % 86400) * 37 + i64 // 86400).cast(pa.timestamp("s", "UTC"))
    return pa.table(
        {
            "url": url,
            "warc_ts": ts.cast(pa.timestamp("us", "UTC")),
            "html": pc.cast(html, pa.binary()),
            "text": text,
            "lang": lang,
            "page_id": sid,
        }
    )


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 22), b""):
            h.update(block)
    return h.hexdigest()


def _valid(path: str, manifest: dict) -> bool:
    files = manifest.get("files", {})
    on_disk = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    if not files or sorted(files) != on_disk:
        return False
    rows = sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows for f in files)
    if rows != manifest["rows"]:
        return False
    return all(_sha256(os.path.join(path, f)) == d for f, d in files.items())


def _cached(root: str, key: str, rows: int, write, keep: int) -> tuple[str, float, bool]:
    """Directory `root/key` of parquet files, made by `write(dir)` on a
    miss (it returns {file name: sha256}).  At most `keep` tables stay
    cached under `root`: each run may bring a new seed, and an unbounded
    cache would fill the checkout's disk.  Returns (path, seconds spent,
    cache hit)."""
    t0 = time.perf_counter()
    path = os.path.join(root, key)
    mpath = path + ".json"
    if os.path.isdir(path) and os.path.isfile(mpath):
        with open(mpath) as f:
            manifest = json.load(f)
        if manifest.get("rows") == rows and _valid(path, manifest):
            os.utime(mpath)
            return path, time.perf_counter() - t0, True
    os.makedirs(root, exist_ok=True)
    old = sorted(
        (e for e in os.scandir(root) if e.name.endswith(".json")), key=lambda e: e.stat().st_mtime
    )
    for e in old[: max(len(old) - keep + 1, 0)]:
        shutil.rmtree(e.path[: -len(".json")], ignore_errors=True)
        os.remove(e.path)
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    files = write(tmp)
    os.rename(tmp, path)
    with open(mpath, "w") as f:
        json.dump({"key": key, "rows": rows, "files": files}, f)
    return path, time.perf_counter() - t0, False


def pages_parquet(work_dir: str, seed: int, n_pages: int) -> tuple[str, float, bool]:
    """The (seed, n_pages) pages table, as N_FILES parquet files."""
    bounds = np.linspace(0, n_pages, N_FILES + 1).astype(np.int64)

    def write(tmp):
        files = {}
        for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
            name = f"part-{i:05d}.parquet"
            pq.write_table(build_pages(np.arange(lo, hi, dtype=np.int64), seed), os.path.join(tmp, name))
            files[name] = _sha256(os.path.join(tmp, name))
        return files

    return _cached(os.path.join(work_dir, "pages"), f"seed{seed}_n{n_pages}", n_pages, write, keep=3)


class _KeepFrame:
    """Stands in for a SparkSession: `generate_districts` builds its rows
    on the driver and hands them to `createDataFrame`; this keeps the
    pandas frame, so the districts are made without starting Spark."""

    @staticmethod
    def createDataFrame(pdf):
        return pdf


def districts_parquet(work_dir: str, seed: int, n: int) -> tuple[str, float, bool]:
    """`generate_districts(spark, n, seed)` as one parquet file."""

    def write(tmp):
        path = os.path.join(tmp, "part-00000.parquet")
        pdf = generate_districts(_KeepFrame(), n, seed)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        return {"part-00000.parquet": _sha256(path)}

    return _cached(os.path.join(work_dir, "districts"), f"seed{seed}_n{n}", n, write, keep=2)
