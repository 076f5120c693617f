"""Measure the input properties the generator sets, on any directory of
inputs: the engine's seed-42 test fixture or one that gen.py wrote.

    python3 perfbench/fixture_props.py <dir> [<dir> ...]

Prints one JSON object per directory, for its events, documents and
embeddings tables (those it holds). gen.py takes its distribution
parameters from these figures for the sf0.01 fixture; NOTES.md records
them beside the same figures for generated inputs.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter, defaultdict

import numpy as np
import pyarrow.parquet as pq

WINDOW_S = 300
NEAR_DUP_JACCARD = 0.9
HOT_DF_SHARE = 0.05  # a shingle in more than this share of docs is "hot"


def events(path: str) -> dict:
    ev = pq.read_table(path).to_pandas().sort_values("ts", kind="stable")
    per_user = ev.user_id.value_counts().to_numpy()
    ts = ev.ts.to_numpy().astype("datetime64[us]").astype(np.int64) / 1e6
    start = np.floor(ts[0] / 86400) * 86400
    win = ((ts - start) // WINDOW_S).astype(np.int64)
    n_win = int(win.max()) + 1
    per_win = np.bincount(win, minlength=n_win)
    by_type = {
        t: np.bincount(win[(ev.event_type == t).to_numpy()], minlength=n_win) > 0
        for t in ("click", "view")
    }
    gaps = np.diff(ts)
    return {
        "rows": len(ev),
        "users": int(per_user.size),
        "events_per_user": len(ev) / per_user.size,
        # per-user counts spread no more than Poisson noise when keys are uniform
        "user_count_cv": float(per_user.std() / per_user.mean()),
        "user_count_cv_if_uniform": float(1 / np.sqrt(per_user.mean())),
        "top_user_share": float(per_user.max() / len(ev)),
        "span_days": float((ts[-1] - ts[0]) / 86400),
        # 1.0 for Poisson arrivals
        "interarrival_cv": float(gaps.std() / gaps.mean()),
        "empty_window_share": float((per_win == 0).mean()),
        "one_of_click_view_window_share": float((by_type["click"] ^ by_type["view"]).mean()),
        "zero_value_share": float((ev.value == 0).mean()),
        "value_mean": float(ev.value.mean()),
        "value_median": float(ev.value.median()),
        "value_min": float(ev.value.min()),
        "event_type_shares": ev.event_type.value_counts(normalize=True).round(4).to_dict(),
    }


def _shingles(text: str) -> set:
    w = text.split()
    return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}


def documents(path: str) -> dict:
    doc = pq.read_table(path).to_pandas()
    sets = [_shingles(t) for t in doc.text]
    df = Counter(s for x in sets for s in x)
    index = defaultdict(list)
    for i, x in enumerate(sets):
        for s in x:
            index[s].append(i)
    near = set()
    for i, x in enumerate(sets):
        for j in {j for s in x for j in index[s] if j > i}:
            if len(x & sets[j]) / len(x | sets[j]) >= NEAR_DUP_JACCARD:
                near.add(j)
    hot = {s for s, c in df.items() if c > HOT_DF_SHARE * len(sets)}
    words = doc.text.str.split().map(len)
    return {
        "rows": len(doc),
        "words_min": int(words.min()),
        "words_median": float(words.median()),
        "words_max": int(words.max()),
        "vocabulary": len({w for t in doc.text for w in t.split()}),
        "exact_dup_share": float(doc.text.duplicated().mean()),
        # the later doc of each pair with 3-word-shingle Jaccard >= 0.9
        "near_dup_share": len(near) / len(doc),
        "hot_shingle_doc_share": float(np.mean([bool(x & hot) for x in sets])),
        "max_shingle_df_share": max(df.values()) / len(doc),
        "lang_shares": doc.lang.value_counts(normalize=True).round(4).to_dict(),
        "sources": int(doc.source.nunique()),
    }


def embeddings(path: str) -> dict:
    emb = pq.read_table(path).to_pandas()
    x = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    label = emb.label.to_numpy()

    def own_centroid_cos(lab):
        c = np.stack([x[lab == k].mean(0) for k in np.unique(lab)])
        c /= np.linalg.norm(c, axis=1, keepdims=True)
        return float((x * c[np.searchsorted(np.unique(lab), lab)]).sum(1).mean())

    return {
        "rows": len(emb),
        "dim": int(x.shape[1]),
        "labels": int(np.unique(label).size),
        "norm_mean": float(np.linalg.norm(x, axis=1).mean()),
        # cluster structure shows as a cosine well above the same figure
        # with the labels shuffled
        "own_label_centroid_cos": own_centroid_cos(label),
        "shuffled_label_centroid_cos": own_centroid_cos(np.random.default_rng(0).permutation(label)),
    }


def measure(d: str) -> dict:
    out = {"dir": os.path.basename(os.path.normpath(d))}
    for name, fn in (("events", events), ("documents", documents), ("embeddings", embeddings)):
        path = os.path.join(d, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = fn(path)
    return out


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    for d in sys.argv[1:]:
        print(json.dumps(measure(d)))
