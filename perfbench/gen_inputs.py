"""Seeded GAME input generator (Yahoo-Music shape, FIXTURES.md section 1).

Every row is drawn from known generating parameters:

    label = w . x + b_user[userId] + b_item[itemId] + b_artist[artistId]
            + N(0, NOISE_SD^2)

User and item ids are Zipf-skewed; every item belongs to exactly one
artist, so artists are nested under items. The same seed gives
byte-identical parquet files; `truth.json` carries what the output
checks need.

The seed draws the coefficients, the effects, the features, the noise
and every row's ids. The id layout (which ids are hot, which artist
owns each item) is drawn once from LAYOUT_SEED and is the same for
every seed: which partition a hot entity hashes to decides how skewed
the per-entity stages are, and a layout drawn per seed made an
operation's time swing by a third from seed to seed.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per split: training, validation, and a scoring set three times
# the training size. One train-then-score operation takes ~15 s on 4
# cores, so a run fits the benchmark's time budget.
SPLITS = {"train": 40000, "valid": 10000, "score": 120000}
DIM = 32
ENTITIES = {"perUser": 3000, "perItem": 1000, "perArtist": 100}
COORD_COLS = {"perUser": "userId", "perItem": "itemId",
              "perArtist": "artistId"}
NOISE_SD = 0.5
EFFECT_SD = {"perUser": 0.8, "perItem": 0.6, "perArtist": 0.4}
ZIPF_S = 1.1
ROW_GROUPS = 16
LAYOUT_SEED = 20240601


def _zipf(rng, perm, size):
    """`size` ids drawn with Zipf frequencies; perm[k] is the k-th
    hottest id, so the hottest are spread over the id space."""
    p = 1.0 / np.arange(1, len(perm) + 1) ** ZIPF_S
    return perm[rng.choice(len(perm), size=size, p=p / p.sum())]


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # several row groups, so Spark splits the scan across its cores
    pq.write_table(table, path,
                   row_group_size=-(-table.num_rows // ROW_GROUPS))
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def generate(seed, out_dir):
    """Write <out_dir>/<split>/part-0.parquet per split and truth.json;
    return {file: sha256} of every parquet file written."""
    layout = np.random.default_rng(LAYOUT_SEED)
    item_artist = layout.integers(0, ENTITIES["perArtist"],
                                  ENTITIES["perItem"])
    perm = {c: layout.permutation(ENTITIES[c]) for c in ("perUser", "perItem")}
    # any integer seed, negative ones too
    rng = np.random.default_rng(seed % 2 ** 64)
    w = rng.normal(0.0, 1.0 / np.sqrt(DIM), DIM)
    effects = {c: rng.normal(0.0, EFFECT_SD[c], n)
               for c, n in ENTITIES.items()}
    hashes = {}
    truth = {"seed": seed, "noise_sd": NOISE_SD,
             "dim": DIM, "coords": {c: {"col": COORD_COLS[c],
                                        "effect_sd": EFFECT_SD[c]}
                                    for c in ENTITIES}}
    uid0 = 0
    for split, n in SPLITS.items():
        x = rng.normal(0.0, 1.0, (n, DIM))
        item = _zipf(rng, perm["perItem"], n)
        ids = {"userId": _zipf(rng, perm["perUser"], n),
               "itemId": item, "artistId": item_artist[item]}
        label = x @ w + rng.normal(0.0, NOISE_SD, n)
        for c, col in COORD_COLS.items():
            label += effects[c][ids[col]]
        offsets = np.arange(0, n * DIM + 1, DIM, dtype=np.int32)
        table = pa.table({
            "uid": pa.array(np.arange(uid0, uid0 + n, dtype=np.int64)),
            "label": pa.array(label),
            "features": pa.ListArray.from_arrays(offsets, x.ravel()),
            **{k: pa.array(v.astype(np.int64)) for k, v in ids.items()}})
        uid0 += n
        truth[f"{split}_rows"] = n
        name = f"{split}/part-0.parquet"
        hashes[name] = _write(table, os.path.join(out_dir, name))
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return hashes
