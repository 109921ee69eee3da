"""Seeded input generators, one per workload.

Each generator takes the workload seed and a directory, writes the inputs
there as files (the engine only ever sees files), and returns a ``dict`` of
stated properties plus whatever ground truth the workload's output check
needs. The same seed always gives byte-identical inputs.

Pure Python / NumPy / pyarrow: no Spark session is needed to generate.
"""

from __future__ import annotations

import csv
import hashlib
import io
import os
import zipfile
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- gtfs_stops_sync ---------------------------------------------------------

STREETS = ["Main", "Oak", "Pine", "Maple", "Cedar", "Elm", "Lake", "Hill",
           "Park", "Washington", "Lincoln", "Jackson", "Market", "Church"]


def key_hash(keys) -> str:
    """Order-free digest of a key set (sha256 of the sorted, newline-joined
    keys); the check compares it with the synced state's keys."""
    return hashlib.sha256("\n".join(sorted(keys)).encode()).hexdigest()


def _new_stop(rng: np.random.Generator, sid: int, centre: tuple[float, float]) -> dict:
    lat = centre[0] + rng.normal(0, 0.05)
    lon = centre[1] + rng.normal(0, 0.05)
    return {
        "stop_id": f"S{sid}",
        "stop_code": str(1000 + sid),
        "stop_name": f"{STREETS[sid % len(STREETS)]} St & {sid % 97 + 1}th Ave",
        "stop_lat": f"{lat:.6f}",
        "stop_lon": f"{lon:.6f}",
        "zone_id": f"Z{sid % 5}",
        "location_type": ["", "0", "1"][int(rng.integers(0, 3))],
    }


def _invalidate(rng: np.random.Generator, stop: dict, cols: list[str]) -> dict:
    """One dirty-row kind: out-of-range or non-numeric coordinate, or a
    non-numeric location_type (when the feed has that column). Each fails
    ``sync_stops`` validation."""
    bad = dict(stop)
    kind = int(rng.integers(0, 4 if "location_type" in cols else 3))
    if kind == 0:
        bad["stop_lat"] = f"{91 + rng.random() * 8:.6f}"
    elif kind == 1:
        bad["stop_lon"] = f"{-181 - rng.random() * 8:.6f}"
    elif kind == 2:
        bad["stop_lat"] = "abc"
    else:
        bad["location_type"] = "station"
    return bad


def _columns(rng: np.random.Generator) -> list[str]:
    """A feed's stops.txt header: required columns plus most optional
    ones, in shuffled order."""
    cols = ["stop_id", "stop_name", "stop_lat", "stop_lon"]
    optional = ["stop_code", "zone_id", "location_type", "wheelchair_boarding"]
    cols += [c for c in optional if rng.random() < 0.8]
    return [cols[i] for i in rng.permutation(len(cols))]


def _stops_csv(rng: np.random.Generator, cols: list[str], rows: list[dict]) -> bytes:
    """Dirty GTFS CSV: BOM, quoted and whitespace-padded cells. The engine
    must strip all of it."""
    buf = io.StringIO()
    quoting = csv.QUOTE_ALL if rng.random() < 0.5 else csv.QUOTE_MINIMAL
    w = csv.writer(buf, quoting=quoting, lineterminator="\r\n")
    w.writerow(cols)
    for r in rows:
        cells = []
        for c in cols:
            v = r.get(c, "0" if c == "wheelchair_boarding" else "")
            if v and rng.random() < 0.1:
                v = f"  {v} "
            cells.append(v)
        w.writerow(cells)
    return b"\xef\xbb\xbf" + buf.getvalue().encode("utf-8")


def _zip_bytes(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", compression=zipfile.ZIP_DEFLATED) as z:
        for name, data in members.items():
            info = zipfile.ZipInfo(name, date_time=(2026, 1, 1, 0, 0, 0))
            z.writestr(info, data, compress_type=zipfile.ZIP_DEFLATED)
    return buf.getvalue()


INVALID_SHARE = 0.02  # rows failing validation
CHURN = 0.05  # share of each feed's stops dropped, moved and added per cycle
BROKEN = 2  # archives per cycle that are corrupt or lack stops.txt


def gen_gtfs(seed: int, out_dir: str, n_feeds: int, n_stops: int, n_cycles: int) -> dict:
    """Write ``n_cycles`` snapshots of a GTFS feed set, one directory per
    cycle (``<out_dir>/cycle_<c>/<feed>.zip``). Cycle 0 is the initial
    load; each later cycle drops, moves and adds ``CHURN`` of every feed's
    stops, re-draws which rows are dirty, and removes one feed.

    Ground truth per cycle: the valid key set (``<feed>_<stop_id>``), the
    quarantined row count, and the keys deleted relative to the previous
    cycle's synced state."""
    rng = np.random.default_rng([seed, 1])
    feeds: dict[str, dict] = {}
    for f in range(n_feeds):
        centre = (float(rng.uniform(-60, 60)), float(rng.uniform(-170, 170)))
        stops = {i: _new_stop(rng, i, centre) for i in range(n_stops)}
        feeds[f"feed_{f:03d}"] = {"centre": centre, "stops": stops, "next": n_stops}
    cycles, prev_keys = [], set()
    for c in range(n_cycles):
        if c > 0:
            gone = sorted(feeds)[int(rng.integers(0, len(feeds)))]
            del feeds[gone]
            for fd in feeds.values():
                ids = sorted(fd["stops"])
                k = max(1, int(len(ids) * CHURN))
                for sid in rng.choice(ids, size=k, replace=False):
                    del fd["stops"][int(sid)]
                for sid in rng.choice(sorted(fd["stops"]), size=k, replace=False):
                    moved = _new_stop(rng, int(sid), fd["centre"])
                    moved["stop_name"] = fd["stops"][int(sid)]["stop_name"]
                    fd["stops"][int(sid)] = moved
                for _ in range(k):
                    fd["stops"][fd["next"]] = _new_stop(rng, fd["next"], fd["centre"])
                    fd["next"] += 1
        cdir = os.path.join(out_dir, f"cycle_{c}")
        os.makedirs(cdir)
        keys, n_invalid, n_rows = set(), 0, 0
        for name, fd in sorted(feeds.items()):
            cols, rows = _columns(rng), []
            for sid, stop in sorted(fd["stops"].items()):
                if rng.random() < INVALID_SHARE:
                    rows.append(_invalidate(rng, stop, cols))
                    n_invalid += 1
                else:
                    rows.append(stop)
                    keys.add(f"{name}_{stop['stop_id']}")
            n_rows += len(rows)
            members = {"agency.txt": b"agency_id,agency_name\r\nA,Agency\r\n",
                       "stops.txt": _stops_csv(rng, cols, rows)}
            with open(os.path.join(cdir, f"{name}.zip"), "wb") as fh:
                fh.write(_zip_bytes(members))
        for b in range(BROKEN):
            data = (b"PK\x03\x04 truncated archive" if b % 2 == 0
                    else _zip_bytes({"agency.txt": b"agency_id\r\nB\r\n"}))
            with open(os.path.join(cdir, f"broken_{b}.zip"), "wb") as fh:
                fh.write(data)
        cycles.append({
            "glob": os.path.join(cdir, "*.zip"),
            "synced": len(keys),
            "quarantined": n_invalid,
            "deleted": len(prev_keys - keys),
            "key_hash": key_hash(keys),
            "archive_rows": n_rows,
        })
        prev_keys = keys
    total_rows = sum(c["archive_rows"] for c in cycles)
    return {
        "cycles": cycles,
        "stated": {
            "feeds": n_feeds,
            "stops_per_feed": n_stops,
            "cycles": n_cycles,
            "broken_archives_per_cycle": BROKEN,
            "invalid_row_share": round(
                sum(c["quarantined"] for c in cycles) / total_rows, 4),
            "churn_per_cycle": CHURN,
            "feeds_removed_per_cycle": 1,
        },
    }


# --- the llm_operator_mix stream drain --------------------------------------

EVENT_TYPES = ["view", "click", "purchase", "purchase"]
T0 = datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp()


def gen_events(seed: int, out_dir: str, n_events: int, n_users: int,
               span_hours: float = 48.0) -> dict:
    """``events.parquet``, time-ordered; each user's events come in bursts
    separated by gaps that often exceed the 30-minute session timeout."""
    rng = np.random.default_rng([seed, 3])
    users = rng.integers(0, n_users, size=n_events)
    ts_us = (T0 + rng.random(n_events) * span_hours * 3600) * 1e6
    # bursts: snap half the events onto a per-user anchor +- a few minutes
    anchors = rng.random((n_users, 6)) * span_hours * 3600 + T0
    snap = rng.random(n_events) < 0.5
    pick = anchors[users, rng.integers(0, 6, size=n_events)]
    ts_us = np.where(snap, (pick + rng.random(n_events) * 900) * 1e6, ts_us)
    order = np.argsort(ts_us, kind="stable")
    ts_us = np.floor(ts_us[order]).astype("int64")
    users = users[order]
    values = np.round(rng.gamma(2.0, 20.0, size=n_events), 2)
    types = [EVENT_TYPES[int(x)] for x in rng.integers(0, len(EVENT_TYPES), size=n_events)]
    table = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(types, pa.string()),
        "value": pa.array(values, pa.float64()),
        "props": pa.array(["{}"] * n_events, pa.string()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    return {"stated": {"events": n_events, "users": n_users,
                       "state_key_cardinality": len(set(users.tolist())),
                       "purchase_events": types.count("purchase")}}


# --- llm_operator_mix --------------------------------------------------------

VOCAB_SIZE = 400
STOPWORDS = ["the", "a", "of", "and", "to", "in"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _eval_bucket(doc_id: int) -> int:
    """The release's held-out split rule: md5(doc_id) bucket >= 98."""
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16) % 100


_WORD_P = 1.0 / (np.arange(VOCAB_SIZE) + 10.0)
_WORD_P /= _WORD_P.sum()


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` tokens from a Zipf-like vocabulary with stopwords mixed in."""
    ids = rng.choice(VOCAB_SIZE, size=n, p=_WORD_P)
    out = [f"w{i}" for i in ids]
    for i in rng.choice(n, size=max(2, n // 8), replace=False):
        out[int(i)] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    return out


# planted shares of the generated corpus
DUP_SHARE, NEAR_SHARE, CONTAM_SHARE, FAIL_SHARE = 0.05, 0.1, 0.02, 0.05


def _corpus_texts(rng: np.random.Generator, n_docs: int) -> tuple[list[str], dict]:
    """Texts with planted exact duplicates, near-duplicates (~4% of tokens
    replaced), rule-failing docs, and docs that copy a span of a held-out
    (eval-bucket) doc; plus the planted shares."""
    texts: list[str] = []
    kinds = rng.random(n_docs)
    n_dup = n_near = n_fail = n_contam = 0
    eval_ids = [i for i in range(n_docs) if _eval_bucket(i) >= 98]
    for i in range(n_docs):
        k = kinds[i]
        if i > 10 and k < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
            n_dup += 1
            continue
        if i > 10 and k < DUP_SHARE + NEAR_SHARE:
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(toks), size=max(1, len(toks) // 25), replace=False):
                toks[int(j)] = f"w{int(rng.integers(0, VOCAB_SIZE))}"
            texts.append(" ".join(toks))
            n_near += 1
            continue
        if k < DUP_SHARE + NEAR_SHARE + FAIL_SHARE:
            # fails a cleaning rule: too short, numeric-heavy or stopword-free
            rule = int(rng.integers(0, 3))
            if rule == 0:
                toks = _words(rng, int(rng.integers(10, 45)))
            elif rule == 1:
                toks = [str(int(x)) for x in rng.integers(0, 10**6, size=80)]
            else:
                toks = [f"w{int(x)}" for x in rng.integers(0, VOCAB_SIZE, size=80)]
            texts.append(" ".join(toks))
            n_fail += 1
            continue
        toks = _words(rng, int(rng.integers(60, 140)))
        if eval_ids and k > 1 - CONTAM_SHARE:
            # copy a span of a held-out doc's words: contaminates via 3-grams
            src = int(eval_ids[int(rng.integers(0, len(eval_ids)))])
            if src < i:
                span = texts[src].split()[5:15]
                toks[20:20 + len(span)] = span
                n_contam += 1
        texts.append(" ".join(toks))
    stated = {
        "exact_dup_share": round(n_dup / n_docs, 4),
        "near_dup_share": round(n_near / n_docs, 4),
        "eval_overlap_share": round(n_contam / n_docs, 4),
        "planted_rule_fail_share": round(n_fail / n_docs, 4),
    }
    return texts, stated


def gen_llm_sf(seed: int, out_dir: str, n_docs: int, n_vecs: int, dim: int = 64,
               n_labels: int = 10) -> dict:
    """An sf dir with generated ``documents`` and ``embeddings``: the two
    tables the mix's queries and their oracles read. Vectors are drawn
    around ``n_labels`` centroids (label = centroid)."""
    rng = np.random.default_rng([seed, 4])
    texts, stated = _corpus_texts(rng, n_docs)
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i % len(LANGS)] for i in range(n_docs)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centroids = rng.normal(0, 1, size=(n_labels, dim))
    labels = rng.integers(0, n_labels, size=n_vecs)
    vecs = (centroids[labels] + rng.normal(0, 0.6, size=(n_vecs, dim))).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32"), pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    stated.update({"docs": n_docs, "vectors": n_vecs, "vector_dim": dim,
                   "labels": n_labels})
    return {"stated": stated}
