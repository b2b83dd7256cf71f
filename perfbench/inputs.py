"""Seeded benchmark inputs, cached on disk and validated before reuse.

Every input set is a directory ``<cache>/<workload>-s<seed>-n<size>-v<N>``
holding parquet files, the oracle's expected answer (``expected.json``)
and a ``manifest.json`` that records the key and the size and SHA-256 of
every other file.  A set is reused only when its manifest names the same
key and every file still matches; anything else (a stale version, a
partial write, an edited file) is deleted and generated again.  Sets are
written into a temporary sibling directory and renamed into place, so a
killed run never leaves a directory that looks complete.

Generation is NumPy + pyarrow only: no Spark, and nothing here is timed
by the benchmark.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import oracles

# bump when the generated bytes or expected.json layout change
INPUT_VERSION = 2
N_FILES = 8
LANGS = ["en", "de", "fr", "es", "pt"]
EPOCH_S = 1767225600


def _rng(workload: str, seed: int) -> np.random.Generator:
    tag = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "little")
    return np.random.default_rng([int(seed), tag])


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _write_split(table: pa.Table, out_dir: str, name: str, n_files: int):
    """Write `table` as `n_files` parquet parts under out_dir/name/, so Spark
    reads it as several partitions instead of one."""
    d = os.path.join(out_dir, name)
    os.makedirs(d)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(d, f"part-{i:03d}.parquet"))


# ---------------------------------------------------------------------------
# generators: each writes its files into out_dir and returns expected.json
# ---------------------------------------------------------------------------

def zipf_city_ids(rng: np.random.Generator, n: int,
                  n_cities: int = oracles.GAZETTEER_SIZE,
                  s: float = 1.1) -> np.ndarray:
    """n city ids k, Zipf-skewed over k (city 0 is the most mentioned).

    The ranking is the same for every seed: with a seeded ranking, which
    cities fall inside a region (and so the match count and the refine
    work of a pass) changed up to 8x from seed to seed."""
    w = 1.0 / np.arange(1, n_cities + 1) ** s
    return rng.choice(n_cities, size=n, p=w / w.sum())


def gen_pages(out_dir: str, seed: int, n_pages: int) -> dict:
    """Common-Crawl-style pages (url, warc_ts, html, text, lang); text
    mentions 0-5 cities 'City<k>' with Zipf-skewed k."""
    rng = _rng("pages_join", seed)
    n_mentions = rng.integers(0, 6, n_pages)
    ks = zipf_city_ids(rng, int(n_mentions.sum()))
    texts, htmls, urls = [], [], []
    pos = 0
    for pid, m in enumerate(n_mentions.tolist()):
        places = " and ".join(f"City{k}" for k in ks[pos:pos + m].tolist()) \
            if m else "no places"
        pos += m
        text = (f"Report {pid}: travel notes covering {places}. "
                f"End of page {pid}.")
        texts.append(text)
        htmls.append(f"<html><body><p>{text}</p></body></html>".encode())
        urls.append(f"https://host{pid % 997}.example/p/{pid}")
    ids = np.arange(n_pages)
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array((EPOCH_S + ids) * 1_000_000,
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, 5, n_pages)],
                         pa.string()),
    })
    _write_split(table, out_dir, "pages", N_FILES)
    city_counts = np.bincount(ks, minlength=oracles.GAZETTEER_SIZE)
    counts = oracles.pages_region_counts(city_counts)
    return {"rows_in": n_pages, "mentions": int(len(ks)),
            "city_counts": city_counts.tolist(),
            "region_counts": {str(r): int(c) for r, c in counts.items()}}


def dense_points(seed: int, n_points: int):
    """Points on the 0.25-degree grid offset 0.125 inside the bboxes of
    dense_join's regions grown by 1 degree on every side: (lng, lat)."""
    rng = _rng("dense_join", seed)
    lng0, lat0, lng1, lat1 = oracles.region_corners(
        np.arange(oracles.DENSE_REGIONS))
    r = rng.integers(0, oracles.DENSE_REGIONS, n_points)
    nx = (lng1[r] - lng0[r] + 2) * 4
    ny = (lat1[r] - lat0[r] + 2) * 4
    ix = np.floor(rng.random(n_points) * nx)
    iy = np.floor(rng.random(n_points) * ny)
    lng = (lng0[r] - 1) + 0.25 * ix + 0.125
    lat = (lat0[r] - 1) + 0.25 * iy + 0.125
    return lng.astype(np.float64), lat.astype(np.float64)


def gen_points(out_dir: str, seed: int, n_points: int) -> dict:
    lng, lat = dense_points(seed, n_points)
    table = pa.table({"point_id": pa.array(np.arange(n_points), pa.int64()),
                      "lng": lng, "lat": lat})
    _write_split(table, out_dir, "points", N_FILES)
    counts = oracles.points_region_counts(lng, lat, oracles.DENSE_REGIONS)
    return {"rows_in": n_points,
            "region_counts": {str(r): int(c) for r, c in counts.items()}}


GENERATORS = {"pages_join": gen_pages, "dense_join": gen_points}


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

def cache_key(workload: str, seed: int, size: int) -> str:
    return f"{workload}-s{seed}-n{size}-v{INPUT_VERSION}"


def _manifest(d: str, key: str) -> dict:
    files = {}
    for root, _, names in os.walk(d):
        for n in sorted(names):
            p = os.path.join(root, n)
            rel = os.path.relpath(p, d)
            if rel != "manifest.json":
                files[rel] = {"bytes": os.path.getsize(p), "sha256": _sha256(p)}
    return {"key": key, "files": files}


def is_valid(d: str, key: str) -> bool:
    """True only when d holds a complete input set for `key`: the manifest
    names the key and lists exactly the files present, each with its
    recorded size and SHA-256."""
    try:
        with open(os.path.join(d, "manifest.json")) as f:
            recorded = json.load(f)
    except (OSError, ValueError):
        return False
    return recorded == _manifest(d, key)


def ensure_inputs(cache_dir: str, workload: str, seed: int, size: int) -> str:
    """Return the directory of a valid input set, generating it if needed."""
    key = cache_key(workload, seed, size)
    d = os.path.join(cache_dir, key)
    if os.path.isdir(d):
        if is_valid(d, key):
            return d
        shutil.rmtree(d)
    tmp = f"{d}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        expected = GENERATORS[workload](tmp, seed, size)
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump(expected, f, sort_keys=True)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(_manifest(tmp, key), f, sort_keys=True)
        os.rename(tmp, d)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return d


def load_expected(d: str) -> dict:
    with open(os.path.join(d, "expected.json")) as f:
        return json.load(f)
