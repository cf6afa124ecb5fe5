"""Correctness gates: compare what a run produced with the generator's truth.

Each function returns a list of ``(where, message)`` failures.  ``where``
names the operation a failure is charged to -- ``("op", i)`` or
``("read", i)`` index into the run's records -- so a failed check counts
as a failed operation.  Expected values are computed here, directly from
the truth, never by the program under test.
"""

import glob
import hashlib
import math
import os
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from gen import fx_symbol


# ------------------------------------------------------------ digests

def canon(v):
    """Canonical text of a value, as perfbench.Common.canon writes it."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return str(math.floor(v * 1e6 + 0.5))
    return str(v)


def digest(rows):
    total, n = 0, 0
    for r in rows:
        h = hashlib.md5("|".join(canon(v) for v in r).encode()).digest()
        total += int.from_bytes(h[:8], "big", signed=True)
        n += 1
    return {"rows": n, "digest": format(total & (2**64 - 1), "x")}


def _same_digest(rec, rows):
    want = digest(rows)
    return rec.get("rows") == want["rows"] and rec.get("digest") == want["digest"]


def read_table(path, columns=None):
    """All rows of a parquet table directory (or file) as tuples."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) \
        if os.path.isdir(path) else [path]
    rows = []
    for f in files:
        t = pq.read_table(f, columns=columns)
        cols = [t.column(i).to_pylist() for i in range(t.num_columns)]
        rows.extend(zip(*cols))
    return rows


# ------------------------------------------------------------ sec_daily

def _round(x, places):
    if x is None:
        return None
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


class SecModel:
    """What the lake and the warehouse hold after each night, simulated
    from the truth with the flow's semantics: a fetch window of two days,
    all-null ticker columns dropped, a primary-key merge per night."""

    def __init__(self, truth):
        self.t = truth
        self.days = truth["days"]
        self.lake = {"sp_stocks": {}, "fx": {}}

    def _fetch(self, cat, d0, d1, as_of):
        c = self.t["cats"][cat]
        failed = set(self.t["failed"][cat]) if as_of is not None else set()
        out = {}
        for j, sym in enumerate(c["syms"]):
            if sym in failed:
                continue
            rows = {}
            for d in range(d0, d1 + 1):
                v = 0 if d == as_of else 1
                row = []
                for f in range(5):
                    if c["null"][v, f, d, j]:
                        row.append(None)
                    elif f == 4:
                        row.append(int(c["vol"][v, d, j]))
                    else:
                        row.append(float(c["vals"][v, f, d, j]))
                rows[d] = tuple(row)
            if any(x is not None for r in rows.values() for x in r):
                name = fx_symbol(sym) if cat == "fx" else sym
                for d, r in rows.items():
                    out[(d, name)] = r
        self.lake[cat].update(out)

    def backfill(self):
        for cat in self.lake:
            self._fetch(cat, 0, self.t["sim_start"] - 1, None)

    def night(self, d):
        for cat in self.lake:
            self._fetch(cat, d - 1, d, d)

    def fct(self, cat):
        """fct_prices rows of one category: rounded, then forward-filled."""
        by_sym = {}
        for (d, sym), r in self.lake[cat].items():
            by_sym.setdefault(sym, []).append((d, r))
        out = {}
        for sym, rows in by_sym.items():
            places = 2 if cat == "sp_stocks" else 3 if sym == "USDJPY" else 5
            prev_close = None
            for d, r in sorted(rows):
                o, h, lo, c = (_round(x, places) for x in r[:4])
                filled = [prev_close if x is None else x for x in (o, h, lo, c)]
                out[(d, sym)] = (*filled, 0 if r[4] is None else r[4])
                prev_close = c
        return out


def check_sec(truth, result):
    fails = []
    facts = result["facts"]
    days = truth["days"]
    day_ix = {str(d): i for i, d in enumerate(days)}
    want_failed = sorted(truth["failed"]["sp_stocks"]) + truth["failed"]["fx"]
    model = SecModel(truth)
    model.backfill()
    nights = {}
    for n in facts["nights"]:
        model.night(day_ix[n["night"]])
        nights[n["night"]] = {cat: dict(model.lake[cat]) for cat in model.lake}
    ops = {o["night"]: i for i, o in enumerate(result["ops"])}

    for n in facts["nights"]:
        where = ("op", ops[n["night"]]) if n["night"] in ops else ("setup", 0)
        if n["error"]:
            fails.append((where, f"night {n['night']}: {n['error']}"))
            continue
        if n["failed"] != want_failed:
            fails.append((where, f"night {n['night']}: PartialFailure named "
                                 f"{n['failed']}, planted {want_failed}"))
        for r in n["dq"]:
            if r["violations"]:
                fails.append((where, f"night {n['night']}: {r['table']}."
                              f"{r['check']}({r['column']}) reported "
                              f"{r['violations']} violations"))

    # reads: each equals a direct computation over the truth at its night
    for i, r in enumerate(result["reads"]):
        if not r["ok"]:
            fails.append((("read", i), f"read {r['name']}: {r['error']}"))
            continue
        d = day_ix[r["night"]]
        lake = nights[r["night"]]
        window = range(d - 4, d + 1)
        iso = lambda k: str(days[k])
        if r["name"] == "stock_close_window":
            rows = [(iso(k), s, v[3]) for (k, s), v in
                    lake["sp_stocks"].items() if k in window]
        elif r["name"] == "fx_window":
            rows = [(iso(k), s, *v) for (k, s), v in lake["fx"].items()
                    if k in window]
        elif r["name"] == "stock_universe":
            rows = [(s,) for s in truth["cats"]["sp_stocks"]["syms"]]
        elif r["name"] == "sector_close_window":
            m = SecModel(truth)
            m.lake = lake
            rows = [(iso(k), s, v[3]) for (k, s), v in
                    m.fct("sp_stocks").items() if k in window and
                    truth["sector"][s] == "Information Technology"]
        else:
            fails.append((("read", i), f"unknown read {r['name']}"))
            continue
        if not _same_digest(r, rows):
            fails.append((("read", i), f"read {r['name']} at {r['night']} "
                                       "differs from the truth"))

    # end state: exact row counts and every value at the model's rounding
    last = ("op", len(result["ops"]) - 1) if result["ops"] else ("setup", 0)
    got = {(str(r[0]), r[1]): tuple(r[2:]) for r in read_table(
        os.path.join(facts["dw"], "fct_prices"),
        ["date_stamp", "symbol", "open", "high", "low", "close", "volume"])}
    want = {}
    for cat in ("sp_stocks", "fx"):
        want.update({(str(days[k]), s): v for (k, s), v in
                     model.fct(cat).items()})
    if len(got) != len(want):
        fails.append((last, f"fct_prices holds {len(got)} rows, "
                            f"expected {len(want)}"))
    bad = [k for k, v in want.items() if got.get(k) != v]
    if bad:
        k = sorted(bad)[0]
        fails.append((last, f"{len(bad)} fct_prices rows differ from the "
                            f"truth, first {k}: {got.get(k)} != {want[k]}"))
    for cat in ("sp_stocks", "fx"):
        n = len(read_table(os.path.join(facts["lake"], "price_history", cat),
                           ["symbol"]))
        if n != len(model.lake[cat]):
            fails.append((last, f"lake price_history/{cat} holds {n} rows, "
                                f"expected {len(model.lake[cat])}"))
    return fails, {"fct_rows": len(got),
                   "rows_per_night": 2 * sum(
                       len(c["syms"]) - len(truth["failed"][cat])
                       for cat, c in truth["cats"].items())}


# ------------------------------------------------------- corpus_curate

def check_corpus(truth, result):
    fails = []
    facts = result["facts"]
    root = facts["root"]
    curate_ops = [i for i, o in enumerate(result["ops"]) if o["kind"] == "curate"]
    last = ("op", curate_ops[-1]) if curate_ops else ("setup", 0)
    # the untimed warm curation of the same corpus wrote the reference
    outs = facts["outputs"]
    for i, out in zip(curate_ops, outs):
        if out != facts["warm_output"]:
            fails.append((("op", i), "curation output digest differs from "
                                     "the warm curation of the same seed"))
    verdict = dict(read_table(os.path.join(root, "verdicts"),
                              ["doc_id", "quality_pred"]))
    curated = {r[0] for r in read_table(os.path.join(root, "curated"),
                                        ["doc_id"])}
    for g in truth["planted"]["exact_groups"]:
        passed = {verdict[x] for x in g}
        if len(passed) != 1:
            fails.append((last, f"exact-duplicate group {g} got different "
                                "gate verdicts"))
        elif passed == {True} and len(curated.intersection(g)) != 1:
            fails.append((last, f"exact-duplicate group {g} kept "
                                f"{sorted(curated.intersection(g))}"))
    if facts["pack_tokens"] != facts["curated_tokens"]:
        fails.append((last, f"packs hold {facts['pack_tokens']} tokens, "
                            f"survivors {facts['curated_tokens']}"))
    missing = set(facts["kernels_required"]) - set(facts["kernels_seen"])
    if missing:
        fails.append((last, f"timed plans never evaluated {sorted(missing)}"))
    packs = read_table(os.path.join(root, "packs"),
                       ["lang", "pack_id", "n_docs", "pack_tokens",
                        "pack_text"])
    docs = read_table(os.path.join(root, "curated"), ["doc_id", "lang", "text"])
    for i, r in enumerate(result["reads"]):
        if not r["ok"]:
            fails.append((("read", i), f"read {r['name']}: {r['error']}"))
            continue
        if not _same_digest(r, packs if r["name"] == "packs" else docs):
            fails.append((("read", i), f"read {r['name']} differs from the "
                                       "written output"))
    return fails, {"curated_docs": len(curated),
                   "output_digest": facts["warm_output"].get("packs"),
                   "stored_rows": len(curated)}


# -------------------------------------------------------- stream_dedup

def accepted_state(state_root):
    """Accepted rows (doc_id, text, batch) and band keys (delta, doc_id,
    band, key) of the committed state: the deltas up to ``_current``."""
    with open(os.path.join(state_root, "_current")) as f:
        v = int(f.read().strip())
    acc, keys = [], []
    for i in range(1, v + 1):
        d = os.path.join(state_root, "delta", f"d{i}")
        acc += read_table(os.path.join(d, "accepted"),
                          ["doc_id", "text", "batch"])
        keys += [(i, *k) for k in read_table(os.path.join(d, "keys"),
                                             ["doc_id", "band", "key"])]
    return acc, keys, v


def _families(pairs):
    """Union-find over planted (original, copy) pairs: id -> family root."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(b)] = find(a)
    return find


def check_stream(truth, result, docs_per_file):
    """The committed state against the truth and the gate's verdicts: in
    each family of planted copies, exactly one gated member is accepted,
    in the first batch that held a gated member, and none if no member
    passed the gate; a document with no planted copy is accepted exactly
    when it passed the gate.  Batch k holds backlog file k - 1."""
    fails = []
    facts = result["facts"]
    acc, keys, v = accepted_state(facts["state_root"])
    batch_of = {r[0]: r[2] for r in acc}
    arrived_docs = facts["files_arrived"] * docs_per_file
    last = ("op", len(result["ops"]) - 1) if result["ops"] else ("setup", 0)
    verdict = dict(read_table(facts["verdicts"], ["doc_id", "quality_pred"]))
    if sorted(verdict) != list(range(arrived_docs)):
        fails.append((last, f"gate verdicts cover {len(verdict)} documents, "
                            f"{arrived_docs} arrived"))
    if v != facts["files_arrived"]:
        fails.append((last, f"state at version {v} after "
                            f"{facts['files_arrived']} one-file batches"))
    find = _families(truth["planted_dups"])
    fams = {}
    for d in range(arrived_docs):
        fams.setdefault(find(d), []).append(d)
    bad = []
    for root, members in fams.items():
        gated = [d for d in members if verdict.get(d)]
        kept = [d for d in members if d in batch_of]
        first = min((d // docs_per_file + 1 for d in gated), default=None)
        if [d for d in kept if not verdict.get(d)] or len(kept) != min(
                1, len(gated)) or (kept and batch_of[kept[0]] != first):
            bad.append((root, sorted(gated), sorted(kept)))
    if bad:
        fails.append((last, f"{len(bad)} duplicate families kept the wrong "
                            f"documents; first (family, gated, accepted) "
                            f"{bad[0]}"))
    extra = set(batch_of) - set(range(arrived_docs))
    if extra:
        fails.append((last, f"{len(extra)} accepted ids never arrived"))
    # stability: the warm replay of the first files accepted the same rows
    prefixes = facts["warm_output"]["prefixes"]
    k = min(len(prefixes), facts["files_arrived"])
    if not k or not _same_digest(prefixes[k - 1],
                                 [a for a in acc if a[2] <= k]):
        fails.append((last, f"the timed state's first {k} batches differ "
                            "from the warm replay of the same files"))
    for i, r in enumerate(result["reads"]):
        if not r["ok"]:
            fails.append((("read", i), f"read {r['name']}: {r['error']}"))
            continue
        # a read after an earlier trigger saw the state at its version
        rows = [a for a in acc if a[2] <= r["version"]]
        if not _same_digest(r, rows):
            fails.append((("read", i), f"read {r['name']} at version "
                                       f"{r['version']} differs from the "
                                       "committed state"))
    return fails, {"accepted_docs": len(acc), "state_deltas": v,
                   "arrived_docs": arrived_docs, "docs_per_file": docs_per_file,
                   "stored_rows": len(acc)}
