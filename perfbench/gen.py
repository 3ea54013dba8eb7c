"""Seeded AWS-DMS-shaped workload generator for the CDC benchmark.

Emits one LOAD file (the initial full load, bare data columns) plus
dash-named change files in the reference sample generator's record shape
(`generate_sample_dms_parquet.py`): data columns `id`, `name`,
`modification_date` and the DMS envelope `table`, `op` (I/U/D), `ts`.
Every change file mixes inserts of new keys, updates and deletes of live
keys drawn uniformly over the whole key space, and the generator keeps the
expected visible state in lockstep, written as `expected.parquet`.

`ts` is a fixed-width ISO string that strictly increases across all rows,
so latest-wins ordering is unambiguous and string order is time order.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")
TABLE = "bench_table"


def _iso(us):
    return np.datetime_as_string(BASE_TS + us.astype("timedelta64[us]"), unit="us")


def _names(prefix, ids):
    return [f"{prefix}{i}" for i in ids.tolist()]


def generate(out_dir, seed, n_keys, n_files, rows_per_file, snapshots,
             insert_frac=0.1, delete_frac=0.1):
    """Write LOAD00000001.parquet and the change files under `out_dir`,
    plus `expected-<k>.parquet`, the visible state after the first k change
    files, for the last `snapshots` + 1 values of k; returns the change file
    names in landing order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_ins = int(rows_per_file * insert_frac)
    n_del = int(rows_per_file * delete_frac)
    n_upd = rows_per_file - n_ins - n_del
    cap = n_keys + n_files * n_ins + 1
    alive = np.zeros(cap, dtype=bool)
    # last write per key: file index (-1 = LOAD) and the ts counter
    last_file = np.full(cap, -1, dtype=np.int64)
    last_ts = np.zeros(cap, dtype=np.int64)
    load_ids = np.arange(1, n_keys + 1, dtype=np.int64)
    alive[load_ids] = True
    load_md = _iso(np.zeros(n_keys, dtype=np.int64))
    pq.write_table(pa.table({
        "id": load_ids,
        "name": _names("name", load_ids),
        "modification_date": load_md,
    }), os.path.join(out_dir, "LOAD00000001.parquet"))

    next_id = n_keys + 1
    clock = 0
    files = []
    for f in range(n_files):
        live = np.flatnonzero(alive)
        touched = rng.choice(live, size=n_upd + n_del, replace=False)
        upd, dele = touched[:n_upd], touched[n_upd:]
        ins = np.arange(next_id, next_id + n_ins, dtype=np.int64)
        next_id += n_ins
        ids = np.concatenate([ins, upd, dele])
        ops = np.array(["I"] * n_ins + ["U"] * n_upd + ["D"] * n_del)
        order = rng.permutation(len(ids))
        ids, ops = ids[order], ops[order]
        ts_us = clock + 1 + np.arange(len(ids), dtype=np.int64)
        clock = int(ts_us[-1])
        ts = _iso(ts_us)
        names = [f"{'d' if o == 'D' else 'v'}{f}_{i}"
                 for o, i in zip(ops.tolist(), ids.tolist())]
        name = f"{20240101 + f // 1000000:08d}-{f % 1000000:06d}.parquet"
        pq.write_table(pa.table({
            "id": ids,
            "name": names,
            "modification_date": ts,
            "table": [TABLE] * len(ids),
            "op": ops,
            "ts": ts,
        }), os.path.join(out_dir, name))
        files.append(name)
        alive[ins] = True
        alive[dele] = False
        last_file[ids] = f
        last_ts[ids] = ts_us
        if f + 1 >= n_files - snapshots:
            state = np.flatnonzero(alive)
            lf = pa.array(last_file[state])
            prefix = pc.if_else(pc.less(lf, 0), "name", pc.binary_join_element_wise(
                "v", pc.cast(lf, pa.string()), "_", ""))
            pq.write_table(pa.table({
                "id": state.astype(np.int64),
                # name<id> for a key the LOAD wrote last, v<file>_<id> otherwise
                "name": pc.binary_join_element_wise(
                    prefix, pc.cast(pa.array(state), pa.string()), ""),
                "modification_date": _iso(last_ts[state]),
            }), os.path.join(out_dir, f"expected-{f + 1}.parquet"))
    return files
