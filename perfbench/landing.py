"""Seeded landing data for the pipeline workload, with predicted results.

The two landing batches are key-offset replicas of the repository's landing
fixtures (src/test/resources/landing1 and landing2): replica r renames every
company "<name> R<r>", suffixes symbols and slugs, and offsets CIKs by
1000 * r, so replicas never join with each other. Batch 2 then perturbs a
seeded share of the replicas:

  hq_move        Umbrella's headquarters city changes (a new SCD2 location key)
  metric_change  Globex's revenue changes
  dropout        Hooli leaves the Fortune list
  newcomer       a new company joins both lists

`predict` is an independent model of the pipeline's semantics (the dbt
models, the incremental merges, the SCD2 snapshots and the check suite) that
computes, for each of the three runs, the row count of every model and the
violation count of every check. The benchmark compares the program against
it. By design the full refresh over both RAW batches fails
stg_fortune500.unique_company_name: staging has no in-batch dedup (uniqueness
relies on the merge key, as in the reference), so every company present in
both Fortune batches is duplicated: 4 per unperturbed replica.
"""
import json
import os
import random

FIXTURES = os.path.join("src", "test", "resources")
SHARES = {"hq_move": 0.10, "metric_change": 0.10, "dropout": 0.05, "newcomer": 0.05}
WIKI, FORTUNE = "sp500.json", "fortune500_2025.json"
NULL = "_dbt_utils_surrogate_key_null_"


def _fixture(batch: int):
    d = os.path.join(FIXTURES, f"landing{batch}")
    with open(os.path.join(d, WIKI)) as f:
        wiki = json.load(f)
    with open(os.path.join(d, FORTUNE)) as f:
        fortune = json.load(f)["items"]
    return wiki, fortune


def _wiki(rec: dict, r: int) -> dict:
    out = dict(rec)
    sec = rec["Security"]
    head, sep, tail = sec.partition(" (")
    out["Security"] = f"{head} R{r}{sep}{tail}"
    out["Symbol"] = f"{rec['Symbol']}{r}"
    out["CIK"] = rec["CIK"] + 1000 * r
    return out


def _fortune(item: dict, r: int) -> dict:
    out = dict(item, data=dict(item["data"]))
    out["name"] = f"{item['name']} R{r}"
    out["slug"] = f"{item['slug']}-r{r}"
    return out


def batches(scale: int, seed: int):
    """The landing records of both batches: [(wiki, fortune items)] * 2."""
    rnd = random.Random(seed)
    (w1, f1), (w2, f2) = _fixture(1), _fixture(2)
    out = [([], []), ([], [])]
    for r in range(scale):
        p = {k: rnd.random() < share for k, share in SHARES.items()}
        out[0][0].extend(_wiki(x, r) for x in w1)
        out[0][1].extend(_fortune(x, r) for x in f1)
        out[1][0].extend(_wiki(x, r) for x in w2)
        for x in f2:
            item = _fortune(x, r)
            if x["name"] == "Umbrella" and p["hq_move"]:
                item["data"]["Headquarters City"] = "Arklay"
            if x["name"] == "Globex" and p["metric_change"]:
                item["data"]["Revenues ($M)"] = "$1,250"
            if x["name"] == "Hooli" and p["dropout"]:
                continue
            out[1][1].append(item)
        if p["newcomer"]:
            out[1][0].append({"Symbol": f"NEW{r}", "Security": f"Newco R{r} (startup)",
                              "GICS Sector": "Information Technology",
                              "GICS Sub-Industry": "Software",
                              "Headquarters Location": "Austin, Texas",
                              "Date added": "2025-01-15", "CIK": 1000 * r + 777,
                              "Founded": "2019"})
            out[1][1].append({"name": f"Newco R{r}", "order": 7, "rank": 7,
                              "slug": f"newco-r{r}",
                              "data": {"Assets ($M)": "$1,000", "Revenues ($M)": "$800",
                                       "Profits ($M)": "$40", "Market Value ($M)": "$5,000",
                                       "Employees": "900", "Headquarters City": "Austin",
                                       "State": "TX", "Industry": "Software",
                                       "Sector": "Technology", "Profitable": "yes",
                                       "Newcomer to the Fortune 500": "yes",
                                       "Change in Rank (500 only)": "",
                                       "Change in Rank (Full 1000)": ""}})
    return out


def generate(out_dir: str, scale: int, seed: int) -> None:
    """Write batch1/ and batch2/ (one file per source each) and expected.txt."""
    data = batches(scale, seed)
    for b, (wiki, fortune) in enumerate(data, start=1):
        d = os.path.join(out_dir, f"batch{b}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, WIKI), "w") as f:
            json.dump(wiki, f)
        with open(os.path.join(d, FORTUNE), "w") as f:
            json.dump({"items": fortune}, f)
    with open(os.path.join(out_dir, "expected.txt"), "w") as f:
        for run, (rows, checks) in enumerate(predict(data)):
            for k, v in sorted(rows.items()):
                f.write(f"rows {run} {k} {v}\n")
            for k, v in sorted(checks.items()):
                f.write(f"check {run} {k} {v}\n")


def input_bytes(out_dir: str) -> int:
    return sum(os.path.getsize(os.path.join(out_dir, f"batch{b}", n))
               for b in (1, 2) for n in (WIKI, FORTUNE))


# ------------------------------------------------------------------ model

def _money(x):
    if x is None:
        return None
    s = str(x).replace("$", "").replace(",", "")
    return float(s) if s != "" else None


def _num(x, default):
    """nullif(x, '') cast as double, else the default."""
    return default if x is None or str(x) == "" else float(x)


def _stg_wiki(raw):
    rows = []
    for raw_id, at, payload in raw:
        for rec in payload:
            founded = rec.get("Founded")
            rows.append({
                "ingested_at": at,
                "company_name": rec["Security"].split(" (")[0] if rec.get("Security") else None,
                "symbol": rec.get("Symbol"), "cik": rec.get("CIK"),
                "date_added": rec.get("Date added") or None,
                "founded_year": int(founded[:4]) if founded else None,
                "gics_sector": rec.get("GICS Sector"),
                "gics_sub_industry": rec.get("GICS Sub-Industry")})
    best = {}
    for r in rows:  # earliest date_added per CIK, NULLS LAST
        k = r["cik"]
        rank = (r["date_added"] is None, r["date_added"] or "")
        if k not in best or rank < best[k][0]:
            best[k] = (rank, r)
    return [r for _, r in best.values()]


def _stg_fortune(raw):
    rows = []
    for raw_id, at, payload in raw:
        for it in payload:
            d = it.get("data") or {}
            emp = d.get("Employees")
            rows.append({
                "ingested_at": at, "company_name": it.get("name"),
                "company_rank": it.get("rank"), "slug": it.get("slug"),
                "assets_m": _money(d.get("Assets ($M)")),
                "revenues_m": _money(d.get("Revenues ($M)")),
                "profits_m": _money(d.get("Profits ($M)")),
                "market_value_m": _money(d.get("Market Value ($M)")),
                "employees": int(emp.replace(",", "")) if emp else None,
                "change_rank_500": _num(d.get("Change in Rank (500 only)"), 0.0),
                "change_rank_1000": _num(d.get("Change in Rank (Full 1000)"), 0.0),
                "city": d.get("Headquarters City"), "state": d.get("State")})
    return rows


def _upsert(existing, incoming, key):
    keys = {tuple(r[k] for k in key) for r in incoming}
    return [r for r in existing
            if any(r[k] is None for k in key) or tuple(r[k] for k in key) not in keys] + incoming


def _core(fortune, wiki, wm):
    by_name = {}
    for s in wiki:
        by_name.setdefault(s["company_name"], []).append(s)
    best = {}
    for f in fortune:
        for s in by_name.get(f["company_name"], []) if f["company_name"] is not None else []:
            if wm is not None and not s["ingested_at"] > wm:
                continue
            row = dict(f, last_updated=f["ingested_at"], symbol=s["symbol"], cik=s["cik"],
                       founded_year=s["founded_year"])
            n = row["company_name"]
            if n not in best or row["last_updated"] > best[n]["last_updated"]:
                best[n] = row
    return list(best.values())


def _sk(*vals):
    return "-".join(NULL if v is None else str(v) for v in vals)


def _snapshot(history, batch, as_of):
    """dbt snapshot, timestamp strategy, invalidate_hard_deletes."""
    if history is None:
        return [dict(b, valid_to=None) for b in batch]
    closed = [h for h in history if h["valid_to"] is not None]
    cur, new = {}, {}
    for h in history:
        if h["valid_to"] is None:
            cur.setdefault(h["key"], []).append(h)
    for b in batch:
        new.setdefault(b["key"], []).append(b)
    kept, inserts = [], []
    for k in set(cur) | set(new):
        cs, bs = cur.get(k, []), new.get(k, [])
        if not bs:
            kept += [dict(c, valid_to=as_of) for c in cs]
        elif not cs:
            inserts += [dict(b, valid_to=None) for b in bs]
        else:
            for c in cs:
                for b in bs:
                    newer = b["updated"] > c["updated"]
                    kept.append(dict(c, valid_to=b["updated"] if newer else None))
                    if newer:
                        inserts.append(dict(b, valid_to=None))
    return closed + kept + inserts


def _violations(t):
    """The reference check suite (graft.pipeline.Checks.referenceSuite)."""
    def nn(table, rows, *cols):
        return {f"{table}.not_null_{c}": sum(r[c] is None for r in rows) for c in cols}

    def uq(table, rows, *cols):
        out = {}
        for c in cols:
            counts = {}
            for r in rows:
                counts[r[c]] = counts.get(r[c], 0) + 1
            out[f"{table}.unique_{c}"] = sum(n > 1 for n in counts.values())
        return out

    def rng(table, rows, c, lo, hi):
        return {f"{table}.accepted_range_{c}": sum(
            r[c] is not None and ((lo is not None and r[c] < lo) or (hi is not None and r[c] > hi))
            for r in rows)}

    f, w, core = t["stg_fortune500"], t["stg_wiki_sp500"], t["cr_company_complete"]
    v = {}
    v.update(nn("stg_fortune500", f, "company_name", "company_rank", "revenues_m", "slug",
                "assets_m"))
    v.update(uq("stg_fortune500", f, "company_name"))
    for c in ["is_best_company", "is_change_the_world", "dropped_in_rank", "is_future_50",
              "is_global_500", "is_profitable", "is_newcomer", "has_female_ceo",
              "founder_is_ceo", "is_fastest_growing", "is_most_admired"]:
        v[f"stg_fortune500.accepted_values_{c}"] = 0  # yes/no flags are never NULL
    for c, lo, hi in [("assets_m", 0, None), ("revenues_m", 0, None), ("profits_m", -1e9, None),
                      ("market_value_m", 0, None), ("employees", 0, None),
                      ("change_rank_500", -500, 500), ("change_rank_1000", -1000, 1000)]:
        v.update(rng("stg_fortune500", f, c, lo, hi))
    v["stg_fortune500.singular_profit_not_exceed_revenue"] = sum(
        r["profits_m"] is not None and r["revenues_m"] is not None
        and r["profits_m"] > r["revenues_m"] for r in f)
    v.update(nn("stg_wiki_sp500", w, "company_name", "symbol", "cik", "gics_sector",
                "gics_sub_industry"))
    v.update(uq("stg_wiki_sp500", w, "company_name", "symbol", "cik"))
    v.update(rng("stg_wiki_sp500", w, "founded_year", 1700, 2100))
    v.update(nn("cr_company_complete", core, "company_name", "cik", "symbol", "last_updated"))
    v.update(uq("cr_company_complete", core, "cik"))
    v.update(nn("dim_company", t["dim_company"], "company_key", "company_name", "symbol"))
    v.update(uq("dim_company", t["dim_company"], "company_key"))
    v.update(nn("dim_location", t["dim_location"], "location_key", "headquarters_city",
                "headquarters_state", "valid_from"))
    v.update(uq("dim_location", t["dim_location"], "location_key"))
    v.update(nn("dim_fortune_metrics", t["dim_fortune_metrics"], "fortune_metrics_key",
                "company_rank", "slug"))
    v.update(uq("dim_fortune_metrics", t["dim_fortune_metrics"], "fortune_metrics_key"))
    fact = t["fact_company_performance"]
    v.update(nn("fact_company_performance", fact, "company_key", "location_key",
                "fortune_metrics_key", "last_updated"))
    for c, dim in [("company_key", "dim_company"), ("location_key", "dim_location")]:
        parent = {r[c] for r in t[dim]}
        v[f"fact_company_performance.relationships_{c}_{dim}"] = sum(
            r[c] is not None and r[c] not in parent for r in fact)
    v.update(nn("company_location_snapshot", t["company_location_snapshot"],
                "location_key", "dbt_valid_from"))
    v.update(nn("fortune_metrics_snapshot", t["fortune_metrics_snapshot"],
                "fortune_metrics_key", "dbt_valid_from"))
    return v


def predict(data):
    """Row counts and check violations after each of the three runs: first
    run on batch 1 (at=1), incremental on batch 2 (at=2), full refresh (at=3)."""
    raw_w, raw_f = [], []
    stg_w = stg_f = core = fact = loc = met = None
    out = []
    for run, (batch, full) in enumerate([(0, False), (1, False), (1, True)]):
        at = run + 1
        if run < 2:  # the full refresh re-reads batch 2: its files are already loaded
            raw_w.append((len(raw_w) + 1, at, data[batch][0]))
            raw_f.append((len(raw_f) + 1, at, data[batch][1]))

        def since(raw, hwm):
            return [x for x in raw if hwm is None or x[1] > hwm]

        def incr(existing, model, raw, key, wm_col):
            if full or existing is None:
                return model(raw)
            hwm = max((r[wm_col] for r in existing), default=None)
            return _upsert(existing, model(since(raw, hwm)), key)

        stg_w = incr(stg_w, _stg_wiki, raw_w, ["cik"], "ingested_at")
        stg_f = incr(stg_f, _stg_fortune, raw_f, ["company_name"], "ingested_at")
        if full or core is None:
            core = _core(stg_f, stg_w, None)
        else:
            hwm = max(r["last_updated"] for r in core)
            core = _upsert(core, _core(stg_f, stg_w, hwm), ["cik"])
        loc = _snapshot(loc, [{"key": _sk(r["company_name"], r["city"], r["state"]),
                               "city": r["city"], "state": r["state"],
                               "updated": r["last_updated"]} for r in core], at)
        met = _snapshot(met, [{"key": _sk(r["company_name"], r["slug"]),
                               "rank": r["company_rank"], "slug": r["slug"],
                               "updated": r["last_updated"]} for r in core], at)

        def fact_of(rows):
            return [{"company_key": _sk(r["company_name"], r["symbol"]),
                     "location_key": _sk(r["company_name"], r["city"], r["state"]),
                     "fortune_metrics_key": _sk(r["company_name"], r["slug"]),
                     "last_updated": r["last_updated"]} for r in rows]
        if full or fact is None:
            fact = fact_of(core)
        else:
            hwm = max(r["last_updated"] for r in fact)
            fact = _upsert(fact, fact_of([r for r in core if r["last_updated"] > hwm]),
                           ["company_key"])
        dim_company = [{"company_key": _sk(r["company_name"], r["symbol"]),
                        "company_name": r["company_name"], "symbol": r["symbol"]} for r in core]
        dim_location = [{"location_key": x["key"], "headquarters_city": x["city"],
                         "headquarters_state": x["state"], "valid_from": x["updated"]}
                        for x in loc if x["valid_to"] is None]
        dim_metrics = [{"fortune_metrics_key": x["key"], "company_rank": x["rank"],
                        "slug": x["slug"]} for x in met if x["valid_to"] is None]
        tables = {
            "stg_wiki_sp500": stg_w, "stg_fortune500": stg_f, "cr_company_complete": core,
            "company_location_snapshot": [{"location_key": x["key"], "dbt_valid_from": x["updated"]}
                                          for x in loc],
            "fortune_metrics_snapshot": [{"fortune_metrics_key": x["key"],
                                          "dbt_valid_from": x["updated"]} for x in met],
            "dim_company": dim_company, "dim_location": dim_location,
            "dim_fortune_metrics": dim_metrics, "fact_company_performance": fact}
        rows = {"raw.wiki_sp500": len(raw_w), "raw.fortune_500": len(raw_f),
                "staging.stg_wiki_sp500": len(stg_w), "staging.stg_fortune500": len(stg_f),
                "core.cr_company_complete": len(core),
                "snapshots.company_location_snapshot": len(loc),
                "snapshots.fortune_metrics_snapshot": len(met),
                "analytics.dim_company": len(dim_company),
                "analytics.dim_location": len(dim_location),
                "analytics.dim_fortune_metrics": len(dim_metrics),
                "analytics.fact_company_performance": len(fact)}
        out.append((rows, _violations(tables)))
    return out
