"""Seeded inputs for the benchmark's workloads, with the ground truth
planted in them.

Every input is drawn from ``numpy.random.default_rng([seed, k])`` and written
with pyarrow; every expected answer is computed here with pyarrow or
numpy from the generated arrays (never with Spark, never with the
engine), so the checks in ``checks.py`` compare two independent
computations.
"""

from __future__ import annotations

import datetime as _dt
import os
import unicodedata

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Row counts per size. "full" is the measured size; "tiny" is the
# self-test size. The vectors keep the sf0.1 fixture's row count;
# lineitem and the documents are cut so that a run (one session, one
# pass) fits the benchmark's time budget -- see README.md.
SIZES = {
    "full": {
        "lineitem": 80_000, "geo": 1_500,
        "docs": 1_000, "vectors": 2_000, "queries": 25, "media": 120,
        "batches": 2, "batch_events": 500, "seed_docs": 200,
    },
    "tiny": {
        "lineitem": 2_000, "geo": 120,
        "docs": 200, "vectors": 300, "queries": 10, "media": 24,
        "batches": 2, "batch_events": 50, "seed_docs": 20,
    },
}

EPOCH_1992 = _dt.datetime(1992, 1, 1, tzinfo=_dt.timezone.utc)

# ---------------------------------------------------------------------------
# profile: petk's own surface
# ---------------------------------------------------------------------------

RETURNFLAGS = ["A", "N", "R"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
SHIPMODE_PATTERN = "^[A-Z]+( [A-Z]+)?$"
TORONTO_BBOX = [-79.7, -79.1, 43.5, 44.0]
SLIVER = {"threshold": 1.0, "projected_coordinates": 32617}

#: Per-table validation rules and row key, as a petk user writes them.
SCHEMAS = {
    "lineitem": (
        {
            "l_quantity": {"nulls": [-1], "range": [1, 50]},
            "l_discount": {"range": [0, 0.1]},
            "l_returnflag": {"accepted": RETURNFLAGS},
            "l_shipmode": {"pattern": SHIPMODE_PATTERN},
            "l_comment": {"unique": True, "nulls": ["n/a"]},
        },
        ["l_orderkey", "l_linenumber"],
    ),
    "geo": (
        {"geometry": {"bounding_box": TORONTO_BBOX, "sliver": SLIVER}},
        "gid",
    ),
}


def _plant(rng, n: int, share: float) -> np.ndarray:
    """Boolean mask selecting ``round(n * share)`` distinct rows."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.choice(n, size=max(1, round(n * share)), replace=False)] = True
    return mask


def _ts_ms(rng, n: int, days: int) -> pa.Array:
    secs = rng.integers(0, days * 86400, size=n) + int(EPOCH_1992.timestamp())
    return pa.array(secs * 1000, type=pa.timestamp("ms", tz="UTC"))


def _strings(values: np.ndarray, holes: dict[str, np.ndarray]) -> pa.Array:
    out = values.astype(object)
    for val, mask in holes.items():
        out[mask] = val
    return pa.array(list(out), type=pa.string())


def _lineitem(rng, n: int) -> pa.Table:
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    qty[_plant(rng, n, 0.01)] = np.nan
    qty[_plant(rng, n, 0.005)] = -1.0  # sentinel → null
    qty[_plant(rng, n, 0.002)] = 60.0  # above range
    disc = rng.integers(0, 11, size=n) / 100.0
    disc[_plant(rng, n, 0.003)] = 0.25  # above range
    flags = np.array(RETURNFLAGS)[rng.integers(0, 3, size=n)]
    holes = {"X": _plant(rng, n, 0.002), None: _plant(rng, n, 0.001)}
    modes = np.array(SHIPMODES)[rng.integers(0, len(SHIPMODES), size=n)]
    comment = np.array([f"note {i:07d}" for i in range(n)], dtype=object)
    dup = _plant(rng, n, 0.004)
    comment[dup] = comment[rng.integers(0, n, size=int(dup.sum()))]
    return pa.table({
        "l_orderkey": pa.array(np.arange(n) // 4 + 1, type=pa.int64()),
        "l_linenumber": pa.array(np.arange(n) % 4 + 1, type=pa.int32()),
        "l_quantity": pa.array(qty, from_pandas=False),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, n), 2)),
        "l_discount": pa.array(disc),
        "l_returnflag": _strings(flags, holes),
        "l_shipmode": _strings(modes, {"air freight!": _plant(rng, n, 0.002)}),
        "l_comment": _strings(comment, {"n/a": _plant(rng, n, 0.003)}),
        "l_shipdate": _ts_ms(rng, n, 2500),
    })


def _square(x: float, y: float, d: float) -> str:
    return (
        f"POLYGON(({x} {y}, {x + d} {y}, {x + d} {y + d}, {x} {y + d}, {x} {y}))"
    )


def _geo(rng, n: int) -> tuple[pa.Table, dict, dict]:
    """Toronto parcels. Each row is one planted category; the expected
    violation count of each geometry rule follows from the categories."""
    cats = rng.choice(
        ["square", "point", "outside", "bowtie", "sliver", "null"],
        size=n, p=[0.6, 0.2, 0.06, 0.05, 0.05, 0.04],
    )
    xs = rng.uniform(-79.6, -79.2, n)
    ys = rng.uniform(43.6, 43.9, n)
    wkt = []
    for cat, x, y in zip(cats, xs, ys):
        if cat == "square":
            wkt.append(_square(x, y, 0.001))  # ~80 m × 110 m
        elif cat == "point":
            wkt.append(f"POINT ({x} {y})")
        elif cat == "outside":
            wkt.append(_square(x + 4.0, y, 0.001))
        elif cat == "bowtie":
            d = 0.001  # self-intersecting ring with a large net area
            wkt.append(
                f"POLYGON(({x} {y}, {x + 4 * d} {y}, {x + 4 * d} {y + 4 * d},"
                f" {x} {y + 4 * d}, {x + 2 * d} {y - d}, {x} {y}))"
            )
        elif cat == "sliver":
            wkt.append(_square(x, y, 1e-6))  # ~0.01 m²
        else:
            wkt.append(None)
    counts = {c: int((cats == c).sum()) for c in
              ("outside", "bowtie", "sliver", "null")}
    truth = {
        "bounding_box": counts["outside"] + counts["null"],
        "geospatial": counts["bowtie"] + counts["null"],
        "sliver": counts["sliver"],
    }
    types = {
        "points": int((cats == "point").sum()),
        "polygons": int(n - (cats == "point").sum() - counts["null"]),
    }
    table = pa.table({
        "gid": pa.array(np.arange(n), type=pa.int64()),
        "geometry": pa.array(wkt, type=pa.string()),
    })
    return table, truth, types


# -- pyarrow ground truth -----------------------------------------------------

def _canonical(col: pa.ChunkedArray, sentinels: list) -> pa.ChunkedArray:
    """The canonical-null view petk defines: null, NaN, '' and 'null',
    plus the column's own sentinels, are all missing."""
    missing = pc.is_null(col, nan_is_null=True)
    if pa.types.is_string(col.type):
        words = ["", "null"] + [s for s in sentinels if isinstance(s, str)]
        missing = pc.or_(missing, pc.is_in(col, value_set=pa.array(words)))
    else:
        nums = [s for s in sentinels if not isinstance(s, str)]
        if nums:
            vs = pa.array(nums).cast(col.type)
            missing = pc.or_(missing, pc.is_in(col, value_set=vs))
    missing = pc.fill_null(missing, True)
    return pc.if_else(missing, pa.scalar(None, col.type), col)


def _describe_truth(table: pa.Table, schema: dict) -> dict:
    out = {}
    n = table.num_rows
    for name in table.column_names:
        col = _canonical(table[name], (schema.get(name) or {}).get("nulls", []))
        count = n - col.null_count
        stats = {"count": float(count), "n_null": float(n - count)}
        t = col.type
        if pa.types.is_timestamp(t):
            secs = pc.divide(col.cast(pa.int64()),
                             {"ms": 1e3, "us": 1e6}[t.unit])
            stats["min"] = pc.min(secs).as_py()
            stats["max"] = pc.max(secs).as_py()
        elif pa.types.is_integer(t) or pa.types.is_floating(t):
            f = col.cast(pa.float64())
            stats["min"] = pc.min(f).as_py()
            stats["max"] = pc.max(f).as_py()
            stats["mean"] = pc.mean(f).as_py()
        out[name] = stats
    return out


def _violation_truth(table: pa.Table, schema: dict) -> dict:
    """Expected number of violation rows per (column, rule)."""
    out = {}
    for name, rules in schema.items():
        col = _canonical(table[name], rules.get("nulls", []))
        for rule, params in rules.items():
            if rule == "range":
                lo, hi = params
                bad = pa.array([False] * len(col))
                if lo is not None:
                    bad = pc.or_(bad, pc.fill_null(pc.less(col, lo), False))
                if hi is not None:
                    bad = pc.or_(bad, pc.fill_null(pc.greater(col, hi), False))
            elif rule == "accepted":
                bad = pc.or_(
                    pc.invert(pc.is_in(col, value_set=pa.array(params))),
                    pc.is_null(col),
                )
                bad = pc.fill_null(bad, True)
            elif rule == "pattern":
                bad = pc.fill_null(
                    pc.invert(pc.match_substring_regex(col, params)), False
                )
            elif rule == "unique":
                vc = pc.value_counts(col.combine_chunks())
                dup_vals = pc.filter(
                    vc.field("values"), pc.greater(vc.field("counts"), 1)
                )
                bad = pc.fill_null(pc.is_in(col, value_set=dup_vals), False)
                bad = pc.and_(bad, pc.is_valid(col))
            else:
                continue
            out[f"{name}:{rule}"] = int(pc.sum(bad.cast(pa.int64())).as_py() or 0)
    return out


def profile_inputs(root: str, seed: int, size: str = "full") -> dict:
    """Write the profile tables (one parquet file, one row group each)
    under ``root`` and return their paths with the expected answers."""
    rng = np.random.default_rng([seed, 1])
    s = SIZES[size]
    tables = {"lineitem": _lineitem(rng, s["lineitem"])}
    geo, geo_truth, geo_types = _geo(rng, s["geo"])
    tables["geo"] = geo
    out = {"paths": {}, "truth": {}}
    for name, table in tables.items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        schema, key = SCHEMAS[name]
        viol = _violation_truth(table, schema)
        if name == "geo":
            viol.update({f"geometry:{k}": v for k, v in geo_truth.items()})
        out["paths"][name] = path
        out["truth"][name] = {
            "rows": table.num_rows,
            "columns": table.num_columns,
            "describe": _describe_truth(table, schema),
            "violations": viol,
        }
    out["truth"]["geo"]["types"] = geo_types
    return out


# ---------------------------------------------------------------------------
# corpus: the LLM-data pipeline
# ---------------------------------------------------------------------------

VOCAB = (
    "alpha bravo canal delta ember fjord glade harbor island jetty kiln "
    "lagoon meadow north orchard prairie quarry river summit tundra upland "
    "valley willow yonder zephyr bridge castle dune estuary forest geyser "
    "hollow inlet jungle knoll ledge marsh oasis plateau ridge spring "
    "thicket vista wharf basin cove delta2 gorge mesa slope"
).split()
VOCAB_SET = set(VOCAB)
PII_KINDS = {
    "email": lambda r: f"user{r.integers(0, 10**6)}@example.org",
    "ssn": lambda r: f"{r.integers(100, 999)}-{r.integers(10, 99)}-{r.integers(1000, 9999)}",
    "phone": lambda r: f"({r.integers(200, 999)}) {r.integers(200, 999)}-{r.integers(1000, 9999)}",
}


def _words(rng, k: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), size=k)]


def corpus_inputs(root: str, seed: int, size: str = "full") -> dict:
    """Documents (planted exact dups, 1-word near dups, PII, HTML,
    decomposed unicode), clustered embeddings with planted copies, and
    mixed-format media payloads built with the engine's own synth_*
    helpers."""
    from petk_spark.operators.jpeg import synth_jpeg
    from petk_spark.operators.multimodal import (
        synth_flac, synth_png, synth_wav,
    )

    rng = np.random.default_rng([seed, 2])
    s = SIZES[size]
    n = s["docs"]

    # Role of each document: the first quarter are plain originals;
    # later rows copy (exact) or perturb one word of (near) an original.
    texts, sources, pii_of = [], [], []
    near_pairs = []
    n_orig = n // 4
    for i in range(n):
        role = "orig" if i < n_orig else rng.choice(
            ["orig", "exact", "near"], p=[0.8, 0.1, 0.1]
        )
        if role == "orig":
            w = _words(rng, int(rng.integers(40, 70)))
            w.insert(0, f"doc{i}")  # unique token: originals never collide
            pii = int(rng.random() < 0.1)
            if pii:
                kind = list(PII_KINDS)[int(rng.integers(0, 3))]
                w.insert(int(rng.integers(1, len(w))), PII_KINDS[kind](rng))
            text = " ".join(w)
            if rng.random() < 0.05:  # decomposed accent + zero-width space
                text += " caf" + unicodedata.normalize("NFD", "\u00e9") + "\u200b"
            if rng.random() < 0.05:
                text = f"<html><body><p>{text}</p></body></html>"
        else:
            j = int(rng.integers(0, n_orig))
            text = texts[j]
            pii = pii_of[j]  # copies carry the original's PII
            if role == "near":
                toks = text.split(" ")
                k = int(rng.integers(1, len(toks)))
                while toks[k] not in VOCAB_SET:  # never touch PII or markup
                    k = int(rng.integers(1, len(toks)))
                toks[k] = "zz" + toks[k]
                text = " ".join(toks)
                near_pairs.append((j, i))
        texts.append(text)
        pii_of.append(pii)
        sources.append(f"src{int(rng.integers(0, 8))}")
    n_pii = sum(pii_of)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "source": pa.array(sources, type=pa.string()),
    })
    n_canon = sum(t != _canon(t) for t in texts)
    vc = pc.value_counts(docs["text"].combine_chunks())
    dup_groups = int(pc.sum(pc.greater(vc.field("counts"), 1)).as_py())

    vecs, vec_truth = _vectors(rng, s["vectors"], s["queries"])
    media, media_truth = _media(rng, s["media"], synth_wav, synth_png,
                                synth_jpeg, synth_flac)
    paths = {}
    for name, table in (("docs", docs), ("vectors", vecs), ("media", media)):
        paths[name] = os.path.join(root, f"{name}.parquet")
        pq.write_table(table, paths[name], row_group_size=max(1, table.num_rows))
    return {
        "paths": paths,
        "truth": {
            "docs": n,
            "dup_groups": dup_groups,
            "near_pairs": sorted(set(near_pairs)),
            "pii": n_pii,
            "canon_changed": n_canon,
            **vec_truth,
            "media": media_truth,
        },
    }


def _canon(text: str) -> str:
    return unicodedata.normalize("NFC", text).replace("\u200b", "")


def _vectors(rng, n: int, n_queries: int):
    """Unit vectors around 16 random centres (cosine ~0.6 within a
    centre); ~5% of rows are planted near-copies (cosine > 0.999) of an
    earlier row."""
    dim = 64
    centres = rng.normal(size=(16, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    v = centres[rng.integers(0, 16, size=n)] + rng.normal(scale=0.1, size=(n, dim))
    copies = np.flatnonzero(_plant(rng, n, 0.05) & (np.arange(n) > 0))
    for i in copies:
        j = int(rng.integers(0, i))
        v[i] = v[j] + rng.normal(scale=0.005, size=dim)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)

    # Exact semantics of semantic_dedup's keep rule over ALL pairs: a row
    # is dropped iff some lower-id row is within the threshold.
    v64 = v.astype(np.float64)
    v64 /= np.linalg.norm(v64, axis=1, keepdims=True)
    sims = v64 @ v64.T
    lower = np.tril(sims, k=-1) >= 0.95
    dropped = np.flatnonzero(lower.any(axis=1))

    queries = np.sort(rng.choice(n, size=n_queries, replace=False))
    topk = {}
    for q in queries:
        s = sims[q].copy()
        s[q] = -np.inf  # exclude self
        order = np.argsort(-s, kind="stable")[:10]
        topk[int(q)] = {"ids": [int(i) for i in order],
                        "kth": float(s[order[-1]]), "sims": s}
    table = pa.table({
        "vec_id": pa.array(np.arange(n), type=pa.int64()),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
    })
    return table, {
        "vectors": n,
        "semantic_dropped": [int(i) for i in dropped],
        "queries": [int(q) for q in queries],
        "topk": topk,
    }


def _media(rng, n: int, synth_wav, synth_png, synth_jpeg, synth_flac):
    payloads, truth = [], {}
    for i in range(n):
        kind = ["wav", "png", "jpeg", "flac"][i % 4]
        w = int(rng.integers(8, 33))
        h = int(rng.integers(8, 33))
        if kind == "wav":
            p = synth_wav(int(rng.choice([8000, 16000, 44100])),
                          int(rng.integers(1, 3)), 16, int(rng.integers(100, 2000)))
            w = h = None
        elif kind == "png":
            p = synth_png(w, h, int(rng.integers(0, 100)), 0)
        elif kind == "jpeg":
            p = synth_jpeg(w, h, int(rng.integers(0, 200)), gray=True, flat=True)
        else:
            p = synth_flac(int(rng.choice([22050, 44100])),
                           int(rng.integers(1, 3)), 16, int(rng.integers(1000, 90000)))
            w = h = None
        payloads.append(p)
        truth[i] = (kind, w, h)
    table = pa.table({
        "media_id": pa.array(np.arange(n), type=pa.int64()),
        "payload": pa.array(payloads, type=pa.binary()),
    })
    return table, truth


# ---------------------------------------------------------------------------
# ingest: micro-batches landing in a file-source directory
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "view", "purchase", "error", "scroll"]
INGEST_SCHEMA = (
    "event_id long, ts timestamp, event_type string, value double, text string"
)


def ingest_inputs(root: str, seed: int, size: str = "full") -> dict:
    """Micro-batch files (one parquet file per batch) plus a seed corpus
    for the seen store. ~15% of events re-send a document already seen
    (earlier in the batch, in an earlier batch, or in the seed store)."""
    rng = np.random.default_rng([seed, 3])
    s = SIZES[size]
    seed_texts = [f"seed doc {i} " + " ".join(_words(rng, 12))
                  for i in range(s["seed_docs"])]
    seen = set(seed_texts)
    sent_texts: list[str] = []
    src = os.path.join(root, "landing")
    os.makedirs(src)
    batches = []
    eid = 0
    n_dropped = 0
    for b in range(s["batches"]):
        rows = {"event_id": [], "ts": [], "event_type": [], "value": [], "text": []}
        for _ in range(s["batch_events"]):
            r = rng.random()
            if r < 0.05:
                text = seed_texts[int(rng.integers(0, len(seed_texts)))]
            elif r < 0.15 and sent_texts:
                text = sent_texts[int(rng.integers(0, len(sent_texts)))]
            else:
                text = f"event {eid} " + " ".join(_words(rng, 10))
            n_dropped += text in seen
            seen.add(text)
            sent_texts.append(text)
            rows["event_id"].append(eid)
            rows["ts"].append(int(EPOCH_1992.timestamp() * 1e6) + eid * 1_000_000)
            rows["event_type"].append(EVENT_TYPES[int(rng.integers(0, 5))])
            rows["value"].append(round(float(rng.gamma(2.0, 50.0)), 2))
            rows["text"].append(text)
            eid += 1
        table = pa.table({
            "event_id": pa.array(rows["event_id"], type=pa.int64()),
            "ts": pa.array(rows["ts"], type=pa.timestamp("us", tz="UTC")),
            "event_type": pa.array(rows["event_type"], type=pa.string()),
            "value": pa.array(rows["value"], type=pa.float64()),
            "text": pa.array(rows["text"], type=pa.string()),
        })
        batches.append(table)
        pq.write_table(table, os.path.join(src, f"batch-{b:05d}.parquet"))
    allv = pa.concat_tables(batches)
    value = allv["value"]
    seed_path = os.path.join(root, "seed_docs.parquet")
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(-len(seed_texts), 0), type=pa.int64()),
        "text": pa.array(seed_texts, type=pa.string()),
    }), seed_path)
    input_bytes = sum(
        os.path.getsize(os.path.join(src, f)) for f in os.listdir(src)
    )
    return {
        "paths": {"landing": src, "seed": seed_path},
        "truth": {
            "sent": allv.num_rows,
            "dropped": n_dropped,
            "seed_docs": len(seed_texts),
            "value": {
                "n": allv.num_rows - value.null_count,
                "n_null": value.null_count,
                "min": pc.min(value).as_py(),
                "max": pc.max(value).as_py(),
                "sum": pc.sum(value).as_py(),
                "mean": pc.mean(value).as_py(),
            },
            "batches": s["batches"],
            "input_bytes": input_bytes,
        },
    }
