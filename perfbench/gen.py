"""Deterministic input generators: tables, EMG csvs, CP query streams, draws.

Every generator takes the run seed and derives its own numpy stream from
(seed, purpose), so the same seed always yields identical tables, csv
bytes, query texts and pipeline draws, and changing one generator never
shifts another's output.

The tables mirror the shape of the repository testdata (TPC-H-ish star schema
plus `events`, `documents`, `embeddings`): same names, columns, types,
cardinalities and value ranges at a given scale factor. Series values are
multiples of 1/4, so every prefix sum and window sum is exact in doubles and
the engine and its DuckDB transcription compute bit-identical scores.
"""
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# stream ids: one independent numpy stream per generator purpose
_EVENTS, _TPCH, _DOCS, _EMB, _EMG, _CP, _COLD, _DRAW = range(8)

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DOC_WORDS = ("spark window merge table column vector stream value data small join "
             "filter big group hash customer sort order slow line part fast row the "
             "agg key query a scan batch").split()
DOC_LANGS = ["en", "zh", "es", "fr", "de"]
DOC_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

CONSTRAINTS = ["avg_amp", "max_amp_excess_left", "max_amp_excess_right"]
MODES = ["unrefined", "limit", "refined"]


def rng(seed, purpose, *extra):
    return np.random.default_rng([int(seed), purpose, *extra])


def _ts_us(start, offsets_us):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + np.asarray(offsets_us, dtype=np.int64), pa.timestamp("us"))


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def _pick(r, choices, n, p=None):
    return pa.array(np.asarray(choices, dtype=object)[r.choice(len(choices), n, p=p)].tolist(),
                    pa.string())


def events_table(seed, n):
    r = rng(seed, _EVENTS)
    gaps = r.exponential(25.9e6, n).astype(np.int64) + 1
    value = np.minimum(np.round(r.exponential(50.0, n) * 4) / 4, 600.0)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts_us("2024-01-01", np.cumsum(gaps)),
        "user_id": pa.array(r.integers(0, 1500, n, dtype=np.int64)),
        "event_type": _pick(r, EVENT_TYPES, n),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)], pa.string()),
    })


def tpch_tables(seed, sf):
    r = rng(seed, _TPCH)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp))})
    adj, noun = r.integers(0, 8, n_part), r.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1))})
    day = 86400 * 10**6
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(r, ["O", "P", "F"], n_ord),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts_us("1995-01-01", r.integers(0, 2404, n_ord) * day),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(r, ["R", "A", "N"], n_li),
        "l_linestatus": _pick(r, ["O", "F"], n_li),
        "l_shipdate": _ts_us("1995-01-02", r.integers(0, 2499, n_li) * day)})
    return t


def documents_table(seed, n):
    """Bag-of-words documents over a 30-word vocabulary; about 5% are near
    duplicates of an earlier document (one trailing word added or dropped)."""
    r = rng(seed, _DOCS)
    texts = []
    for i in range(n):
        if i > 10 and r.random() < 0.05:
            base = texts[int(r.integers(0, i))].split(" ")
            texts.append(" ".join(base[:-1] if base[-1] == "dup" else base + ["dup"]))
        else:
            texts.append(" ".join(r.choice(DOC_WORDS, int(r.integers(10, 101)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(r, DOC_LANGS, n, p=DOC_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})


def embeddings_table(seed, n, dim=64, labels=10):
    """Unit vectors clustered around one random centroid per label."""
    r = rng(seed, _EMB)
    cents = r.normal(0, 1, (labels, dim))
    lab = r.integers(0, labels, n)
    v = cents[lab] + r.normal(0, 0.8, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(lab.astype(np.int32))})


def write_tables(seed, sf, out_dir, events_only=False):
    """Write the scale-factor `sf` tables as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {"events": events_table(seed, int(1000000 * sf))}
    if not events_only:
        tables.update(tpch_tables(seed, sf))
        tables["documents"] = documents_table(seed, int(50000 * sf))
        tables["embeddings"] = embeddings_table(seed, int(20000 * sf))
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return tables["events"].column("value").to_numpy()


def emg_csv(seed, slot, n, path):
    """An EMG-format csv: 3 junk lines, a header, then `timestamp, emg1..emg8`
    integer rows (FIXTURES §1). Channels are noise smoothed by a truncated
    AR(1) kernel, rounded and clipped to a byte."""
    r = rng(seed, _EMG, slot)
    cols = {"timestamp": np.arange(n, dtype=np.int64) * 5 + int(r.integers(10**12, 2 * 10**12))}
    kernel = 0.9 ** np.arange(40)
    for c in range(1, 9):
        y = np.convolve(r.normal(0, 20, n), kernel)[:n]
        cols[f"emg{c}"] = np.clip(np.round(y), -128, 127).astype(np.int32)
    with open(path, "wb") as f:
        f.write(b"# emg capture\n# device: synthetic\n# rate: 200Hz\n")
        pacsv.write_csv(pa.table(cols), f,
                        pacsv.WriteOptions(include_header=True, quoting_style="none"))
    return cols["emg1"]


# ---------------------------------------------------------------- CP streams

def _bound(v):
    return "None" if v is None else str(int(v))


def _constraint(r, quant, name):
    """One registry constraint with bounds drawn from the series' quantiles."""
    target = "MAX" if r.random() < 0.7 else "MIN"
    if name == "avg_amp":
        u1 = r.uniform(0.2, 0.97)
        u2 = min(0.995, u1 + r.uniform(0.01, 0.3))
        lo, hi = math.floor(quant(u1)), math.ceil(quant(u2))
        return {"name": name, "arg": None, "lo": lo, "hi": max(hi, lo + 1), "target": target}
    arg = int(r.integers(2, 17))
    k = math.ceil(quant(r.uniform(0.3, 0.9)))
    lo, hi = [(0, None), (-2, 0), (None, 0), (-k, k), (-k, 0)][int(r.integers(0, 5))]
    return {"name": name, "arg": arg, "lo": lo, "hi": hi, "target": target}


def cp_text(q, table="events", column="value"):
    cons = " and ".join(
        f"{c['name']}({'' if c['arg'] is None else c['arg']}) in "
        f"[{_bound(c['lo'])}, {_bound(c['hi'])}] {c['target']}" for c in q["constraints"])
    lim = {"unrefined": "", "limit": f" LIMIT {q['k']}",
           "refined": f" LIMIT REFINED {q['k']}"}[q["mode"]]
    return (f"SELECT time_id, offset IN_DOMAIN [{q['x_lo']}, {q['x_hi']}], "
            f"[{q['lx_lo']}, {q['lx_hi']}] FROM {table}.{column} WHERE {cons}{lim}")


def _cp_query(r, quant, n_points, mode, names, multi, size_rank, n_lx):
    """One CP request. The grid holds about 10**(2 + size_rank * (top - 2))
    cells, `size_rank` in [0, 1], top = log10(4e4) (1e4 per series on the
    multi-series engine: four series) — the reference sweep's range. The
    seed draws the placement, the bounds, the targets, k and the excess
    windows."""
    top = math.log10(1e4 if multi else 4e4)
    cells = 10 ** (2 + size_rank * (top - 2))
    n_lx = max(1, min(n_lx, int(cells // 5)))
    lx_lo = int(r.integers(1, 29))
    width = max(1, int(round(cells / n_lx)))
    span = n_points // 4 if multi else n_points
    x_lo = int(r.integers(1, max(2, span - width - 64)))
    q = {"kind": "ms" if multi else "cp", "mode": mode,
         "x_lo": x_lo, "x_hi": x_lo + width - 1, "lx_lo": lx_lo, "lx_hi": lx_lo + n_lx - 1,
         "k": int(r.integers(5, 51)),
         "constraints": [_constraint(r, quant, n) for n in names]}
    q["text"] = cp_text(q)
    return q


def _functions(r, n_cons):
    """avg_amp plus n_cons - 1 excess windows (seeded side), seeded order."""
    names = ["avg_amp"] + list(r.choice(CONSTRAINTS[1:], n_cons - 1, replace=n_cons > 3))
    return [names[i] for i in r.permutation(len(names))]


def cp_interactive_deck(seed, values, size=8):
    """The exploratory session: a seeded deck of CP requests, cycled by the
    closed loop. Request j has mode j % 3, 1 + (j // 3) % 3 constraints, a
    grid size rank that walks the 1e2..4e4 ladder in a fixed shuffled order,
    and runs on the multi-series engine when j % 4 == 3 — so every prefix
    of the loop holds the same mix and the same work whatever the seed; the
    seed draws placement, excess windows, bounds, targets and k."""
    r = rng(seed, _CP)
    quant = lambda u: float(np.quantile(values, u))
    return [_cp_query(r, quant, len(values), MODES[j % 3], _functions(r, 1 + (j // 3) % 3),
                      multi=j % 4 == 3, size_rank=(j * 5 % size) / (size - 1),
                      n_lx=1 + j * 7 % 20)
            for j in range(size)]


def warmup_deck(seed, values):
    """A few requests (one per mode and engine) run untimed during setup."""
    r = rng(seed, _CP, 1)
    quant = lambda u: float(np.quantile(values, u))
    n = len(values)
    return ([_cp_query(r, quant, n, m, _functions(r, 2), multi=False, size_rank=0.7, n_lx=10)
             for m in MODES] +
            [_cp_query(r, quant, n, "refined", ["avg_amp"], multi=True, size_rank=0.7, n_lx=10)])


def cold_query(seed, slot, emg1, n_rows, cells):
    """The reference's 3-constraint `LIMIT REFINED 50` scalability query
    (FIXTURES §4) over `cells` grid cells of one emg csv; the avg_amp bounds
    are drawn from the channel's quantiles."""
    r = rng(seed, _COLD, slot)
    n_lx = 20
    width = max(1, cells // n_lx)
    x_lo = int(r.integers(1, max(2, n_rows - width - 64)))
    a = float(np.quantile(emg1, r.uniform(0.5, 0.9)))
    q = {"kind": "cold", "mode": "refined", "k": 50,
         "x_lo": x_lo, "x_hi": x_lo + width - 1, "lx_lo": 5, "lx_hi": 5 + n_lx - 1,
         "constraints": [
             {"name": "avg_amp", "arg": None, "lo": math.floor(a), "hi": 200, "target": "MAX"},
             {"name": "max_amp_excess_left", "arg": 4, "lo": -2, "hi": 0, "target": "MAX"},
             {"name": "max_amp_excess_right", "arg": 4, "lo": -2, "hi": 0, "target": "MAX"}]}
    q["text"] = cp_text(q, "emg_data", "emg1")
    return q


# ------------------------------------------------------------ pipeline draw

# ROADMAP item 5's fan-out pair machines and the train-once queries whose
# cost only a cold first call shows: always drawn
ALWAYS = ["q57", "q90", "q113", "q118", "q122", "q134", "q173", "q178",
          "q151", "q175", "q183", "q185"]
EXCLUDED = ["q21", "q22", "q23", "q47"]  # the CP engine's own queries
EXTRA_BINS = 2  # extra queries: one from each cost band of the rest
EXTRA_CUT = 0.5  # bands cover the cheaper half: the short-query floor, while
                 # the heavy tail is ALWAYS's (so the draw's median request
                 # falls on the fixed queries whatever the seed)


def _prefix(name):
    return name.split("_", 1)[0]


def pipeline_draw(seed, catalog, costs):
    """Seeded draw from the query catalog ({name: module}): ALWAYS, plus one
    query from each of EXTRA_BINS equal-count cost bands of the cheapest
    EXTRA_CUT of the remaining queries that have a cost (costs: {name:
    seconds}; `measure_costs.py` leaves out the queries that throw),
    redrawn until the draw covers every defining module. Stratifying by
    cost keeps the draw's latency distribution alike across seeds. The
    order interleaves costly and cheap queries so any prefix of the timed
    loop holds a similar cost mix."""
    r = rng(seed, _DRAW)
    names = sorted(n for n in catalog if _prefix(n) not in EXCLUDED)
    fixed = [n for n in names if _prefix(n) in ALWAYS]
    rest = sorted((n for n in names if n not in fixed and n in costs),
                  key=lambda n: (costs[n], n))
    modules = {catalog[n] for n in rest}
    rest = rest[:int(len(rest) * EXTRA_CUT)]
    bands = [rest[i * len(rest) // EXTRA_BINS:(i + 1) * len(rest) // EXTRA_BINS]
             for i in range(EXTRA_BINS)]
    for _ in range(100):
        extras = [b[int(r.integers(0, len(b)))] for b in bands if b]
        if {catalog[n] for n in fixed + extras} >= modules:
            break
    cost = lambda n: costs.get(n, 0.0)
    by_cost = sorted(fixed + extras, key=lambda n: (cost(n), n))
    half = len(by_cost) // 2
    cheap, dear = by_cost[:half], by_cost[half:]
    cheap = [cheap[i] for i in r.permutation(len(cheap))]
    dear = [dear[i] for i in r.permutation(len(dear))]
    order = []
    while cheap or dear:
        for side in (dear, cheap):
            if side:
                order.append(side.pop())
    return order


def load_costs(path):
    with open(path) as f:
        return json.load(f)
