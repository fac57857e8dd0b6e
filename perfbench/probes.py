"""Codec kernel probe: encode and decode speed per codec, measured on arrays
cut from a run's own chunks, plus the store's ratio, codec pick shares and
the cost of codec selection. These are the measured counterparts of the
hand-typed ``CODEC_SPEED`` table in ``codecs/select.py``.
"""

from __future__ import annotations

import collections
import json
import time

import pyarrow as pa
import pyarrow.compute as pc

from parquet_producers_spark.codecs import decode_array, encode_array
from parquet_producers_spark.codecs.select import SAMPLE_ROWS, encode_auto

CODEC_NAMES = ["plain", "dict", "rle", "fsst", "linedict", "for", "bitpack",
               "delta"]
COLUMNS = ["repo", "path", "commit", "lang", "content"]
# per probed array; fsst encodes content at single-digit MB/s
CAP_BYTES = 1 << 20
MIN_TIMED_S = 0.05
MB = 2**20


def _cap(arr: pa.Array) -> pa.Array:
    n = len(arr)
    while n > 1 and arr.slice(0, n).nbytes > CAP_BYTES:
        n //= 2
    return arr.slice(0, n)


def _timed(fn) -> tuple[float, object]:
    """Median seconds of repeated calls (at least 3, until MIN_TIMED_S)."""
    times, out = [], None
    t_total = 0.0
    while len(times) < 3 or (t_total < MIN_TIMED_S and len(times) < 50):
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        times.append(dt)
        t_total += dt
    times.sort()
    return times[len(times) // 2], out


def probe_arrays(rows) -> dict[str, list[pa.Array]]:
    """Decode chunk rows (``column``, ``params``, ``data``) into per-column
    arrays, then add the integer arrays those columns yield: dictionary
    codes and value lengths."""
    by_col: dict[str, list[pa.Array]] = collections.defaultdict(list)
    for r in rows:
        by_col[r["column"]].append(decode_array(r["data"],
                                                json.loads(r["params"])))
    arrays = {}
    for col, chunks in by_col.items():
        arrays[col] = [_cap(a) for a in chunks]
        whole = _cap(pa.concat_arrays(chunks))
        arrays[f"{col}.codes"] = [
            pc.dictionary_encode(whole).indices.cast(pa.int64())]
        arrays[f"{col}.lengths"] = [
            pc.binary_length(whole).cast(pa.int64())]
    return arrays


def codec_probe(rows, meta) -> tuple[dict, list[str]]:
    """Per-layer codec metrics and a list of round-trip failures."""
    out: dict[str, float] = {}
    for col in COLUMNS:
        g = meta[meta["column"] == col]
        out[f"codecs.ratio.{col}"] = (
            g["raw_bytes"].sum() / max(int(g["enc_bytes"].sum()), 1))
    picks = meta["codec"].value_counts()
    for c in CODEC_NAMES:
        out[f"codecs.pick_share.{c}"] = picks.get(c, 0) / max(len(meta), 1)

    arrays = probe_arrays(rows)
    failures = []
    for codec in CODEC_NAMES:
        nbytes, t_enc, t_dec = 0, 0.0, 0.0
        for name, arrs in arrays.items():
            arr = pa.concat_arrays(arrs) if "." in name else _cap(
                pa.concat_arrays(arrs))
            try:
                te, (blob, params) = _timed(lambda: encode_array(arr, codec))
            except (ValueError, TypeError, KeyError, pa.ArrowException):
                continue  # the codec does not take this array's type
            td, back = _timed(lambda: decode_array(blob, params))
            if not back.equals(arr):
                failures.append(f"{codec} round trip on {name}")
            nbytes += arr.nbytes
            t_enc += te
            t_dec += td
        out[f"codecs.encode_mb_s.{codec}"] = nbytes / MB / max(t_enc, 1e-9)
        out[f"codecs.decode_mb_s.{codec}"] = nbytes / MB / max(t_dec, 1e-9)

    encodes, waste_in, winner_in = [], 0, 0
    for col in COLUMNS:
        for arr in arrays.get(col, []):
            choice, _, _ = encode_auto(arr, cascade=True, profile="balanced",
                                       want_blob=False)
            encodes.append(len(choice.sample_sizes))
            sample = arr.slice(0, SAMPLE_ROWS)
            waste_in += (len(choice.sample_sizes) - 1) * sample.nbytes
            winner_in += arr.nbytes
    out["codecs.select_encodes_per_chunk"] = (
        sum(encodes) / max(len(encodes), 1))
    out["codecs.select_waste"] = waste_in / max(winner_in, 1)
    return out, failures
