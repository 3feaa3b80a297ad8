"""Shape profile of a set of input tables, and a comparison of two profiles.

``gen.py`` draws its tables to follow the sf0.1 test tables; the profile of
sf0.1 is recorded in ``sf01_shape.json`` and the tests compare the
generator's output at k=1 against it, so a divergence in schema, row
counts, nulls, value ranges or the relational shape (lineitems per order,
repeated line numbers, near-duplicate documents) fails a test instead of
silently changing the traffic the benchmark measures.

Record a profile of a directory of parquet tables:

    python3 perfbench/shape.py <tables dir> > perfbench/sf01_shape.json
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
# String columns with at most this many distinct values must match exactly.
LOW_CARDINALITY = 100
# The 1st and 99th percentiles (extremes of a long tail such as
# events.value move too much from seed to seed) and means may differ by
# this share of the recorded 1st-99th percentile range (no median: on a
# column with an even number of levels it jumps between two of them):
# the generator keeps money in quarters and rates (l_discount, l_tax) in
# 1/32 and 1/64 steps so that sums are exact in any order, where sf0.1 has
# cents and hundredths; the largest resulting gap is l_discount's 99th
# percentile, 0.09375 against 0.10.
RANGE_TOL = 0.07
SHARE_TOL = 0.01   # absolute, for shares of rows
DAY_US = 86_400 * 10**6


def _column(col: pa.ChunkedArray) -> dict:
    out = {"nulls": col.null_count}
    t = col.type
    if pa.types.is_integer(t) or pa.types.is_floating(t):
        p1, p99 = pc.quantile(col, q=[0.01, 0.99]).to_pylist()
        out.update(p1=p1, p99=p99, mean=pc.mean(col).as_py())
    elif pa.types.is_string(t):
        out["distinct"] = len(pc.unique(col))
    elif pa.types.is_timestamp(t):
        ints = col.cast(pa.int64())
        mm = pc.min_max(ints)
        out.update(min_us=mm["min"].as_py(), max_us=mm["max"].as_py())
    return out


def profile(tables: dict[str, pa.Table]) -> dict:
    prof = {"tables": {}}
    for name in TABLES:
        tb = tables[name]
        prof["tables"][name] = {
            "rows": tb.num_rows,
            "schema": [[f.name, str(f.type), f.nullable] for f in tb.schema],
            "columns": {f.name: _column(tb[f.name]) for f in tb.schema},
        }
    li = tables["lineitem"].select(["l_orderkey", "l_linenumber"]).to_pandas()
    per_order = li.groupby("l_orderkey").size()
    n_orders = tables["orders"].num_rows
    prof["lineitem_per_order"] = {
        "mean": len(li) / n_orders,
        "max": int(per_order.max()),
        "orders_without_share": 1.0 - len(per_order) / n_orders,
        "repeated_linenumber_share": float(
            li.duplicated(["l_orderkey", "l_linenumber"]).mean()),
    }
    ev = tables["events"].select(["event_id", "ts"]).to_pandas()
    prof["events_ts_sorted_by_id"] = bool(
        ev.sort_values("event_id")["ts"].is_monotonic_increasing)
    docs = tables["documents"].to_pandas()
    words = docs["text"].str.split()
    texts = set(docs["text"])
    prof["documents"] = {
        "words_min": int(words.str.len().min()),
        "words_max": int(words.str.len().max()),
        "words_mean": float(words.str.len().mean()),
        "vocabulary": len({w for ws in words for w in ws}),
        # a near-duplicate is another document's text plus one token
        "near_dup_share": float(np.mean(
            [t.rsplit(" ", 1)[0] in texts for t in docs["text"]])),
        "n_chars_is_length": bool((docs["n_chars"] == docs["text"].str.len()).all()),
    }
    emb = tables["embeddings"]
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False))
    prof["embeddings"] = {
        "dim": int(vecs.shape[1]),
        "unit_norm": bool(np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-4)),
        "labels": len(pc.unique(emb["label"])),
    }
    return prof


def _close(want: float, got: float, tol: float) -> bool:
    return abs(want - got) <= tol


def compare(want: dict, got: dict) -> list[str]:
    """Every way ``got`` departs from ``want`` beyond the tolerances above."""
    bad = []
    for name, w in want["tables"].items():
        g = got["tables"][name]
        for key in ("rows", "schema"):
            if w[key] != g[key]:
                bad.append(f"{name}.{key}: {w[key]} != {g[key]}")
        for col, wc in w["columns"].items():
            gc = g["columns"].get(col, {})
            if wc["nulls"] != gc.get("nulls"):
                bad.append(f"{name}.{col}.nulls: {wc['nulls']} != {gc.get('nulls')}")
            if "distinct" in wc:
                d, gd = wc["distinct"], gc.get("distinct", -1)
                ok = d == gd if d <= LOW_CARDINALITY else _close(d, gd, 0.02 * d)
                if not ok:
                    bad.append(f"{name}.{col}.distinct: {d} != {gd}")
            if "p99" in wc:
                tol = RANGE_TOL * max(wc["p99"] - wc["p1"], 1e-9)
                for key in ("p1", "p99", "mean"):
                    if not _close(wc[key], gc.get(key, float("inf")), tol):
                        bad.append(f"{name}.{col}.{key}: {wc[key]} vs {gc.get(key)}")
            if "min_us" in wc:
                for key in ("min_us", "max_us"):
                    if not _close(wc[key], gc.get(key, float("inf")), 2 * DAY_US):
                        bad.append(f"{name}.{col}.{key}: {wc[key]} vs {gc.get(key)}")
    wl, gl = want["lineitem_per_order"], got["lineitem_per_order"]
    checks = [
        ("lineitem_per_order.mean", _close(wl["mean"], gl["mean"], 0.02 * wl["mean"])),
        ("lineitem_per_order.max", _close(wl["max"], gl["max"], 3)),
        *[(f"lineitem_per_order.{k}", _close(wl[k], gl[k], SHARE_TOL))
          for k in ("orders_without_share", "repeated_linenumber_share")],
        ("events_ts_sorted_by_id",
         want["events_ts_sorted_by_id"] == got["events_ts_sorted_by_id"]),
    ]
    wd, gd = want["documents"], got["documents"]
    checks += [(f"documents.{k}", wd[k] == gd[k])
               for k in ("words_min", "vocabulary", "n_chars_is_length")]
    # the longest document is 100 words only if some near-duplicate copied a
    # 99-word one; the mean of 5 k lengths has a standard deviation of 0.37,
    # and sf0.1's own mean is one such draw
    checks += [("documents.words_max", _close(wd["words_max"], gd["words_max"], 1)),
               ("documents.words_mean", _close(wd["words_mean"], gd["words_mean"], 2.0)),
               ("documents.near_dup_share",
                _close(wd["near_dup_share"], gd["near_dup_share"], SHARE_TOL)),
               ("embeddings", want["embeddings"] == got["embeddings"])]
    bad += [name for name, ok in checks if not ok]
    return bad


def load(path: str) -> dict[str, pa.Table]:
    return {t: pq.read_table(os.path.join(path, f"{t}.parquet")) for t in TABLES}


if __name__ == "__main__":
    json.dump(profile(load(sys.argv[1])), sys.stdout, indent=1)
    print()
