"""Seeded input generators for the pipeline benchmark.

Runs as its own process, before the measured JVM starts:

    python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>

The same (workload, seed) always gives byte-identical files. Each
generator also writes `expected.json`, the counts the benchmark checks the
engine's outputs against.

daily_load    a staging-shaped CSV lake (the layout GenLakeData writes:
              three sources, per-ticker history/dividend/holdings/
              allocation files, one master/nav/screener CSV per source)
              for day 0, plus one overlay per later day. Each later day a
              seeded ~5% of tickers get a new NAV row, one appended
              history row and one changed holding weight.
corpus_batch  one docs parquet and a small decontamination reference.
"""
import argparse
import datetime
import hashlib
import json
import os
import random
import shutil

import numpy as np

SOURCES = ["Financial Times", "Yahoo Finance", "Stock Analysis"]
SECTORS = ["Technology", "Financials", "Health Care", "Energy",
           "Industrials", "Utilities", "Consumer Staples", "Materials"]
BASE_DATE = datetime.date(2024, 5, 1)

# Sizes per workload. The run loop in run.py replays these inputs; the
# generator only decides their content.
DAILY = dict(tickers=20, days=40, history_rows=60, holdings_rows=20,
             change_share=0.05)
CORPUS = dict(docs=3000, vocab=20000, bench_passages=24)


def h(seed, *parts):
    """Deterministic non-negative 64-bit value of (seed, parts)."""
    key = ("%d|" % seed + "|".join(str(p) for p in parts)).encode()
    return int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")


def write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


# ------------------------------------------------------------ daily_load

def daily_lake(out, seed):
    n, days = DAILY["tickers"], DAILY["days"]
    hist_rows, hold_rows = DAILY["history_rows"], DAILY["holdings_rows"]
    n_change = max(1, round(n * DAILY["change_share"]))
    tickers = ["TK%05d" % t for t in range(n)]
    rng = random.Random(seed)
    changed = [[]] + [sorted(rng.sample(range(n), n_change))
                      for _ in range(1, days)]

    def day(d):
        return (BASE_DATE + datetime.timedelta(days=d)).isoformat()

    def meta(t):
        si = t % len(SOURCES)
        asset = "ETF" if t % 2 == 0 else "FUND"
        return SOURCES[si], si, asset, asset.lower()

    def nav_price(t, d):
        return 100 + h(seed, t, d, "nav") % 9000 / 100.0

    def history(t, through):
        lines = ["Date,Open,High,Low,Close,Volume"]
        for i in range(hist_rows):
            base = 90 + h(seed, t, i, "px") % 2000 / 100.0
            date = "2024-%02d-%02d" % (1 + i // 28, 1 + i % 28)
            lines.append("%s,%.2f,%.2f,%.2f,%.2f,%d" % (
                date, base, base + 1.2, base - 0.8, base + 0.3,
                1000 + h(seed, t, i, "vol") % 100000))
        for d in range(1, through + 1):
            if t in changed_sets[d]:
                base = 90 + h(seed, t, d, "pxd") % 2000 / 100.0
                lines.append("%s,%.2f,%.2f,%.2f,%.2f,%d" % (
                    day(d), base, base + 1.2, base - 0.8, base + 0.3,
                    1000 + h(seed, t, d, "vold") % 100000))
        return "\n".join(lines) + "\n"

    def holdings(t, through):
        _, _, asset, _ = meta(t)
        weights = [1 + h(seed, t, i, "w") % 80 / 10.0 for i in range(hold_rows)]
        for d in range(1, through + 1):
            if t in changed_sets[d]:
                i = h(seed, t, d, "wi") % hold_rows
                weights[i] = 1 + h(seed, t, d, "wd") % 80 / 10.0
        lines = ["ticker,asset_type,name,symbol,weight"]
        for i in range(hold_rows):
            lines.append("%s,%s,Holding %d,H%d,%.1f%%" % (
                tickers[t], asset, i, h(seed, t, i, "sym") % 500, weights[i]))
        return "\n".join(lines) + "\n"

    def navs(through):
        """nav.csv per source: each ticker's latest scrape up to `through`."""
        files = [["ticker,asset_type,source,nav_price,currency,as_of_date,scrape_date"]
                 for _ in SOURCES]
        for t in range(n):
            source, si, asset, _ = meta(t)
            last = max([d for d in range(1, through + 1) if t in changed_sets[d]],
                       default=0)
            files[si].append("%s,%s,%s,%s,USD,%s,%s" % (
                tickers[t], asset, source, nav_price(t, last), day(last), day(last)))
        return ["\n".join(f) + "\n" for f in files]

    changed_sets = [set(c) for c in changed]
    base = os.path.join(out, "lake")
    date0 = day(0)
    masters = [["ticker,asset_type,name,status,source,date_added"] for _ in SOURCES]
    screeners = [["ticker,asset_type,name,expense_ratio,assets_aum"],
                 ["symbol,name,expense,aum"],
                 ["ticker,asset_type,name,expense_ratio,assets_aum"]]
    n_alloc = 0
    for t in range(n):
        source, si, asset, cat = meta(t)
        tk = tickers[t]
        masters[si].append("%s,%s,Fund %s,new,%s,%s" % (tk, asset, tk, source, date0))
        er = "0.%d%%" % (h(seed, t, "er") % 90 + 10)
        aum = "%d.5m USD" % (h(seed, t, "aum") % 900 + 10)
        screeners[si].append(("%s,Fund %s,%s,%s" % (tk, tk, er, aum)) if si == 1
                             else ("%s,%s,Fund %s,%s,%s" % (tk, asset, tk, er, aum)))
        write(os.path.join(base, "history", source, cat, date0, tk + "_history.csv"),
              history(t, 0))
        div = ["Date,Dividend"] + ["2024-0%d-15,0.%d" % (1 + i, 10 + h(seed, t, i, "div") % 80)
                                   for i in range(8)]
        write(os.path.join(base, "dividends", source, cat, date0, tk + "_dividend.csv"),
              "\n".join(div) + "\n")
        write(os.path.join(base, "holdings", source, cat, date0,
                           "%s_%s_holdings.csv" % (tk, cat)), holdings(t, 0))
        k = 4 + h(seed, t, "nsec") % 4
        n_alloc += k
        alloc = ["ticker,sector,percentage,scrape_date"] + [
            "%s,%s,%.1f%%,%s" % (tk, sec, 5 + h(seed, t, sec, "alloc") % 250 / 10.0, date0)
            for sec in SECTORS[:k]]
        write(os.path.join(base, "allocations", source, date0, tk + "_allocations.csv"),
              "\n".join(alloc) + "\n")
    for si, source in enumerate(SOURCES):
        write(os.path.join(base, "master", source, "master.csv"), "\n".join(masters[si]) + "\n")
        write(os.path.join(base, "details", source, "screener.csv"),
              "\n".join(screeners[si]) + "\n")
    for si, text in enumerate(navs(0)):
        write(os.path.join(base, "nav", SOURCES[si], "nav.csv"), text)

    # overlay d holds every file whose content differs from day d-1
    for d in range(1, days):
        ov = os.path.join(out, "days", "%02d" % d)
        for si, text in enumerate(navs(d)):
            write(os.path.join(ov, "nav", SOURCES[si], "nav.csv"), text)
        for t in changed[d]:
            source, _, _, cat = meta(t)
            tk = tickers[t]
            write(os.path.join(ov, "history", source, cat, date0, tk + "_history.csv"),
                  history(t, d))
            write(os.path.join(ov, "holdings", source, cat, date0,
                               "%s_%s_holdings.csv" % (tk, cat)), holdings(t, d))

    expected = []
    for d in range(days):
        cum = sum(len(changed[k]) for k in range(1, d + 1))
        expected.append({
            "as_of": day(d),
            "changed_tickers": len(changed[d]),
            "tables": {
                "stg_security_master": n,
                "stg_daily_nav": n + cum,
                "stg_price_history": n * hist_rows + cum,
                "stg_dividend_history": n * 8,
                "stg_fund_info": n, "stg_fund_fees": n,
                "stg_fund_risk": n, "stg_fund_policy": n,
                "stg_fund_holdings": n * hold_rows,
                "stg_allocations": n_alloc,
            }})
    return {"days": expected, "tickers": n}


# ------------------------------------------------------------ text corpora

def documents(seed, n, vocab_size):
    """n docs in the shape of the engine's GenScaleData.documentsVocab:
    8-107 words each, drawn uniformly from the vocabulary "w0".."w<N-1>";
    about 0.2% of docs replay the content of the doc before them (exact
    duplicates); sources spread over src0..src19. Text is a function of
    the doc's content index alone, as there."""
    rng = np.random.Generator(np.random.PCG64(seed))
    lengths = rng.integers(8, 108, size=n)
    words = rng.integers(0, vocab_size, size=int(lengths.sum()))
    replay = rng.integers(0, 500, size=n) == 0
    replay[0] = False
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    vocab = np.array(["w%d" % k for k in range(vocab_size)], dtype=object)
    content = np.where(replay, np.arange(n) - 1, np.arange(n))
    texts = [" ".join(vocab[words[bounds[c]:bounds[c + 1]]]) for c in content]
    ids = np.arange(n, dtype=np.int64)
    sources = ["src%d" % (h(seed, int(i), "src") % 20) for i in ids]
    return ids, texts, sources


def write_docs(path, ids, texts, sources):
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(texts, pa.string()),
                      "source": pa.array(sources, pa.string())})
    pq.write_table(table, path, compression="snappy")


def corpus(out, seed):
    ids, texts, sources = documents(seed, CORPUS["docs"], CORPUS["vocab"])
    write_docs(os.path.join(out, "docs", "part-00000.parquet"), ids, texts, sources)
    # decontamination reference: 12-word spans lifted from seeded docs,
    # so the decontaminate stage has real hits to remove
    rng = random.Random(seed)
    passages = []
    while len(passages) < CORPUS["bench_passages"]:
        toks = texts[rng.randrange(len(texts))].split(" ")
        if len(toks) >= 40:
            s = rng.randrange(len(toks) - 12)
            passages.append(" ".join(toks[s:s + 12]))
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(os.path.join(out, "bench"), exist_ok=True)
    pq.write_table(pa.table({"text": pa.array(passages, pa.string())}),
                   os.path.join(out, "bench", "part-00000.parquet"))
    return {"docs": len(ids)}


GENERATORS = {"daily_load": daily_lake, "corpus_batch": corpus}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    tmp = a.out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    expected = GENERATORS[a.workload](tmp, a.seed)
    expected.update(workload=a.workload, seed=a.seed)
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    shutil.rmtree(a.out, ignore_errors=True)
    os.rename(tmp, a.out)


if __name__ == "__main__":
    main()
