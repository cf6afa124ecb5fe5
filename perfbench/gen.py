"""Seeded input generator for the benchmark workloads.

Everything the program under test reads is written here, from the seed
alone: the same seed gives byte-identical files, another seed gives
different ones.  The generator also returns the truth the checks in
``check.py`` compare against; it is never handed to the program.

Inputs per workload:

* ``sec`` (sec_daily): yfinance-shaped wide price files, one per
  500-symbol chunk and asset category, holding every day twice -- the
  first print (``version`` 0) and the restated print (``version`` 1) the
  next night serves for the same day.  Planted: tickers whose download
  fails from the first simulated night on (all-null columns), null cells,
  whole null days, raw ``=X`` FX tickers and ``.`` class-share tickers.
* ``corpus`` (corpus_curate): documents over the sf0.1 ``documents``
  vocabulary in five languages, a labelled seed for the quality
  classifier, planted exact-duplicate groups, near-duplicates, PII strings,
  junk documents and one hot near-duplicate cluster.
* ``stream`` (stream_dedup): a backlog of small parquet files from the same
  document generator whose arrival order is pinned by mtime, carrying
  exact and near duplicates of earlier files' documents.
"""

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The 31-word vocabulary of the sf0.1 documents.parquet corpus.
BASE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
# Per-language words mixed into the base vocabulary; the share of each
# language follows the sf0.1 corpus.
LANG_WORDS = {
    "en": "the data row table".split(),
    "de": "daten zeile tabelle schnell gruppe".split(),
    "es": "datos fila tabla rápido grupo".split(),
    "fr": "données ligne tableau rapide groupe".split(),
    "zh": "数据 表格 查询 排序 分组".split(),
}
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
# Junk: boilerplate vocabulary disjoint from the good documents'.
JUNK_WORDS = ("click here buy now free offer subscribe cookie login "
              "banner promo deal cheap win prize").split()

SEC_CHUNK = 500  # Flow.chunked's default request size
FIELDS = ["Open", "High", "Low", "Close", "Volume"]
SECTORS = ["Information Technology", "Health Care", "Financials",
           "Consumer Discretionary", "Communication Services", "Industrials",
           "Consumer Staples", "Energy", "Utilities", "Real Estate",
           "Materials"]
FX_RAW = ["EURUSD=X", "GBPUSD=X", "AUDUSD=X", "NZDUSD=X", "JPY=X", "CHF=X",
          "CAD=X"]
FX_NORM = {"JPY=X": "USDJPY", "CHF=X": "USDCHF", "CAD=X": "USDCAD"}
HISTORY_START = dt.date(2024, 1, 1)


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def fx_symbol(raw):
    """The program's FX normalization: strip ``=X``, remap USD-base quotes."""
    return FX_NORM.get(raw, raw[:-2] if raw.endswith("=X") else raw)


# ---------------------------------------------------------------- sec_daily

def _tickers(rng, n):
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    out, seen = [], set()
    while len(out) < n:
        t = "".join(rng.choice(letters, size=int(rng.integers(1, 5))))
        if rng.random() < 0.01:
            t += "." + str(rng.choice(["A", "B"]))
        norm = t.replace(".", "-")
        if norm not in seen:
            seen.add(norm)
            out.append(t)
    return out


def _avoid_half(k, unit):
    """Nudge integer price units off exact rounding halves.

    The models round HALF_UP in decimal; a value that sits exactly on a
    half would make the expected value depend on the double's decimal
    expansion, so the generator never produces one.
    """
    half = unit // 2
    bad = (k % unit) == half
    return np.where(bad, k + 1, k)


def _price_panel(rng, base, n_days, scale, unit):
    """(versions, fields, days, symbols) integer OHLC units and volumes."""
    n_sym = len(base)
    walk = np.cumprod(1 + rng.normal(0, 0.01, (n_days, n_sym)), axis=0) * base
    close = walk
    opn = close * (1 + rng.normal(0, 0.004, close.shape))
    high = np.maximum(opn, close) * (1 + rng.uniform(0, 0.01, close.shape))
    low = np.minimum(opn, close) * (1 - rng.uniform(0, 0.01, close.shape))
    v0 = np.stack([opn, high, low, close])  # (4, days, syms)
    # restatement: ~30% of cells move by a few basis points the next night
    moved = rng.random(v0.shape) < 0.3
    v1 = np.where(moved, v0 * (1 + rng.normal(0, 0.0005, v0.shape)), v0)
    k = np.stack([v0, v1]) * scale  # (2, 4, days, syms)
    k = _avoid_half(np.maximum(np.rint(k).astype(np.int64), 1), unit)
    vol = rng.integers(10_000, 5_000_000, (2, n_days, n_sym)).astype(np.int64)
    return k, vol


def gen_sec(rng, out, n_stocks, history_days, sim_days):
    """Write the sec_daily inputs; return the manifest and the truth."""
    raw_syms = _tickers(rng, n_stocks)
    n_days = history_days + sim_days
    days = [HISTORY_START + dt.timedelta(days=i) for i in range(n_days)]
    sim_start = history_days  # first simulated night's index

    # raw stock symbol table (Wikipedia-shaped)
    member = rng.integers(0, 3, n_stocks)
    def flag(i):
        m = member == i
        vals = [bool(x) for x in m]
        return [None if rng.random() < 0.03 else v for v in vals]
    sectors = [None if rng.random() < 0.02 else
               SECTORS[int(rng.integers(len(SECTORS)))]
               for _ in range(n_stocks)]
    sym_tab = pa.table({
        "Symbol": raw_syms,
        "Security": [f"Company {i:04d}" for i in range(n_stocks)],
        "GICS Sector": sectors,
        "GICS Sub-Industry": [None if rng.random() < 0.02 else
                              f"Industry {int(rng.integers(60)):02d}"
                              for _ in range(n_stocks)],
        "in_sp400": flag(0), "in_sp500": flag(1), "in_sp600": flag(2),
    })
    _write(sym_tab, f"{out}/symbols_sp_stocks.parquet")
    _write(pa.table({"Symbol": FX_RAW}), f"{out}/symbols_fx.parquet")

    stocks = sorted(s.replace(".", "-") for s in raw_syms)
    # scale: price units per 1.0; unit: units per rounding step of the
    # model (stocks 4dp -> 2dp, FX 6dp -> 5dp, USDJPY 6dp -> 3dp)
    fx_syms = sorted(FX_RAW)
    cats = {
        "sp_stocks": (stocks, rng.uniform(5, 500, len(stocks)), 10_000, 100),
        "fx": (fx_syms, np.array([100.0 if s == "JPY=X" else 1.0
                                  for s in fx_syms])
               * rng.uniform(0.5, 1.6, len(fx_syms)), 1_000_000, 10),
    }
    failed = {
        "sp_stocks": sorted(rng.choice(stocks, 3, replace=False).tolist()),
        "fx": ["NZDUSD=X"],
    }
    ts = pa.array([dt.datetime(d.year, d.month, d.day) for d in days],
                  type=pa.timestamp("us", tz="UTC"))
    truth = {"days": days, "sim_start": sim_start, "cats": {},
             "sector": {s.replace(".", "-"): sec or "Missing"
                        for s, sec in zip(raw_syms, sectors)}}
    files = {}
    for cat, (syms, base, scale, unit) in cats.items():
        k, vol = _price_panel(rng, base, n_days, scale, unit)
        if cat == "fx":
            vol[:] = 0  # Yahoo reports no FX volume
            jpy = syms.index("JPY=X")
            k[:, :, :, jpy] = _avoid_half(k[:, :, :, jpy], 1000)
        # planted nulls: single cells and whole days, per version
        null_cell = rng.random((2, 5, n_days, len(syms))) < 0.004
        null_day = rng.random((2, n_days, len(syms))) < 0.002
        null = null_cell | null_day[:, None, :, :]
        vals = k.astype(np.float64) / scale
        truth["cats"][cat] = {"syms": syms, "vals": vals, "vol": vol,
                              "null": null, "scale": scale}
        files[cat] = []
        for c0 in range(0, len(syms), SEC_CHUNK):
            chunk = syms[c0:c0 + SEC_CHUNK]
            cols = {"Date": pa.concat_arrays([ts, ts]),
                    "version": pa.array([0] * n_days + [1] * n_days,
                                        type=pa.int32())}
            for f_i, f in enumerate(FIELDS):
                for j, s in enumerate(chunk):
                    sj = c0 + j
                    nl = np.concatenate([null[0, f_i, :, sj],
                                         null[1, f_i, :, sj]])
                    if f == "Volume":
                        v = np.concatenate([vol[0, :, sj], vol[1, :, sj]])
                        cols[f"{f}_{s}"] = pa.array(v, mask=nl,
                                                    type=pa.int64())
                    else:
                        v = np.concatenate([vals[0, f_i, :, sj],
                                            vals[1, f_i, :, sj]])
                        cols[f"{f}_{s}"] = pa.array(v, mask=nl,
                                                    type=pa.float64())
            name = f"prices_{cat}_{c0 // SEC_CHUNK}.parquet"
            _write(pa.table(cols), f"{out}/{name}")
            files[cat].append({"file": name, "symbols": chunk})
    with open(f"{out}/sec.properties", "w") as f:
        f.write(f"history_start={days[0]}\nhistory_days={history_days}\n"
                f"sim_days={sim_days}\n")
    with open(f"{out}/sec_symbols.tsv", "w") as f:
        for cat, fs in files.items():
            for entry in fs:
                for s in entry["symbols"]:
                    f.write(f"{s}\t{entry['file']}\t"
                            f"{int(s in failed[cat])}\n")
    manifest = {
        "history_start": str(days[0]),
        "history_days": history_days,
        "sim_days": sim_days,
        "failed": failed,
        "n_stocks": n_stocks,
    }
    truth["failed"] = failed
    return manifest, truth


# ------------------------------------------------------- corpus / backlog

def _doc(rng, lang, lo=30, hi=70):
    n = int(rng.integers(lo, hi))
    words = BASE_WORDS + LANG_WORDS[lang]
    return " ".join(words[i] for i in rng.integers(0, len(words), n))


def _junk(rng):
    n = int(rng.integers(20, 50))
    return " ".join(JUNK_WORDS[i] for i in rng.integers(0, len(JUNK_WORDS), n))


def _pii(rng):
    kind = int(rng.integers(3))
    if kind == 0:
        return f"user{int(rng.integers(10**6))}@mail{int(rng.integers(99))}.com"
    if kind == 1:
        return ".".join(str(int(x)) for x in rng.integers(1, 255, 4))
    return "+" + "".join(str(int(x)) for x in rng.integers(0, 10, 11))


def _with_pii(rng, text):
    words = text.split(" ")
    words.insert(int(rng.integers(0, len(words))), _pii(rng))
    return " ".join(words)


def _near(rng, text):
    """A near duplicate: one trailing word appended (3-shingle Jaccard
    above 0.95, so LSH banding catches it with near certainty)."""
    return text + " " + BASE_WORDS[int(rng.integers(len(BASE_WORDS)))]


def gen_docs(rng, n_docs, n_exact_groups, n_near, hot_size):
    """Documents with planted duplicates.

    Returns (rows, planted): rows is a list of (doc_id, text, lang) in id
    order; planted holds the exact-duplicate groups, near-duplicate pairs
    (original id, copy id) and the hot cluster's ids.
    """
    rows, planted = [], {"exact_groups": [], "near": [], "hot": []}
    next_id = 0

    def add(text, lang):
        nonlocal next_id
        rows.append((next_id, text, lang))
        next_id += 1
        return next_id - 1

    langs = rng.choice(LANGS, n_docs, p=LANG_P)
    for i in range(n_docs):
        lang = str(langs[i])
        r = rng.random()
        if r < 0.08:
            add(_junk(rng), lang)
        elif r < 0.2:
            add(_with_pii(rng, _doc(rng, lang)), lang)
        else:
            add(_doc(rng, lang), lang)
    for _ in range(n_exact_groups):
        lang = str(rng.choice(LANGS, p=LANG_P))
        text = _doc(rng, lang)
        size = int(rng.integers(2, 5))
        planted["exact_groups"].append([add(text, lang) for _ in range(size)])
    for _ in range(n_near):
        lang = str(rng.choice(LANGS, p=LANG_P))
        text = _doc(rng, lang)
        planted["near"].append((add(text, lang), add(_near(rng, text), lang)))
    if hot_size:
        # one base text plus a distinct two-word tail per member: every
        # member shares all band keys with the others (Jaccard ~0.93)
        text = _doc(rng, "en", 60, 61)
        nb = len(BASE_WORDS)
        tails = rng.choice(nb * nb, hot_size, replace=False)
        planted["hot"] = [add(f"{text} {BASE_WORDS[int(t) // nb]} "
                              f"{BASE_WORDS[int(t) % nb]}", "en")
                          for t in tails]
    # shuffle ids so planted copies are spread through the corpus
    perm = rng.permutation(len(rows))
    remap = {rows[int(p)][0]: i for i, p in enumerate(perm)}
    rows = [(i, rows[int(p)][1], rows[int(p)][2]) for i, p in enumerate(perm)]
    planted["exact_groups"] = [sorted(remap[x] for x in g)
                               for g in planted["exact_groups"]]
    planted["near"] = [(remap[a], remap[b]) for a, b in planted["near"]]
    planted["hot"] = sorted(remap[x] for x in planted["hot"])
    return rows, planted


def _doc_table(rows):
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
        "text": [r[1] for r in rows],
        "lang": [r[2] for r in rows],
    })


def _seed_table(rng, n):
    """Labelled classifier seed: good documents vs junk."""
    texts, labels = [], []
    for i in range(n):
        if i % 2 == 0:
            texts.append(_doc(rng, str(rng.choice(LANGS, p=LANG_P))))
            labels.append(True)
        else:
            texts.append(_junk(rng))
            labels.append(False)
    return pa.table({"text": texts, "label": labels})


def gen_corpus(rng, out, n_docs, hot_size):
    rows, planted = gen_docs(rng, n_docs, n_exact_groups=n_docs // 50,
                             n_near=n_docs // 50, hot_size=hot_size)
    _write(_doc_table(rows), f"{out}/corpus.parquet")
    _write(_seed_table(rng, 400), f"{out}/seed.parquet")
    return {"docs": len(rows), "hot_size": hot_size}, \
        {"rows": rows, "planted": planted}


def gen_stream(rng, out, n_files, docs_per_file, warm_files):
    """Backlog files whose later files repeat earlier files' documents."""
    rows = []
    planted_dups = []  # (first arrival id, later copy id)
    next_id = 0
    mtime0 = 1_700_000_000
    for f in range(n_files):
        batch = []
        for _ in range(docs_per_file):
            r = rng.random()
            earlier = rows if rows else None
            if earlier and r < 0.1:
                src = earlier[int(rng.integers(len(earlier)))]
                batch.append((next_id, src[1], src[2]))
                planted_dups.append((src[0], next_id))
            elif earlier and r < 0.2:
                src = earlier[int(rng.integers(len(earlier)))]
                batch.append((next_id, _near(rng, src[1]), src[2]))
                planted_dups.append((src[0], next_id))
            else:
                lang = str(rng.choice(LANGS, p=LANG_P))
                t = _junk(rng) if rng.random() < 0.05 else _doc(rng, lang)
                if rng.random() < 0.1:
                    t = _with_pii(rng, t)
                batch.append((next_id, t, lang))
            next_id += 1
        rows.extend(batch)
        for d in ["backlog"] + (["warm_backlog"] if f < warm_files else []):
            path = f"{out}/{d}/part-{f:05d}.parquet"
            _write(_doc_table(batch), path)
            os.utime(path, (mtime0 + f, mtime0 + f))
    _write(_seed_table(rng, 400), f"{out}/seed.parquet")
    return {"files": n_files, "docs_per_file": docs_per_file,
            "docs": len(rows)}, {"rows": rows, "planted_dups": planted_dups}


SIZES = {
    "sec_daily": {"n_stocks": 100, "history_days": 20, "sim_days": 60},
    "corpus_curate": {"n_docs": 8000, "hot_size": 300},
    "stream_dedup": {"n_files": 200, "docs_per_file": 50, "warm_files": 12},
}


def generate(workload, seed, out):
    """Write one workload's inputs under ``out``; return (manifest, truth)."""
    rng = np.random.default_rng(seed)
    size = SIZES[workload]
    if workload == "sec_daily":
        manifest, truth = gen_sec(rng, out, **size)
    elif workload == "corpus_curate":
        manifest, truth = gen_corpus(rng, out, **size)
    else:
        manifest, truth = gen_stream(rng, out, **size)
    manifest = {"workload": workload, "seed": seed, "sizes": size, **manifest}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest, truth
