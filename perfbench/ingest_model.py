"""Plain-Python model of the ingest_pipeline workload.

Replays the seeded scrape generator (`ScrapeGen` in Ingest.scala; keep
the two in step) and folds its batches the way the pipeline should:
latest scrape wins inside a batch, a row is written only when it is new
or its N_CHARS differs from the stored one, and every written row
carries the batch that wrote it. No Spark is involved, so the model is
an independent prediction of the store's contents.
"""
import datetime

LOCS = 20
KEYS_PER_LOC = 250
SCRAPED_PER_BATCH = 4
NEW_PER_SCRAPE = 1
RESCRAPE_BP = 30
LANGS = ["en", "de", "fr", "es"]

_M = (1 << 64) - 1


def _mix(z):
    z = (z + 0x9E3779B97F4A7C15) & _M
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M
    return z ^ (z >> 31)


def h(*xs):
    z = 0
    for x in xs:
        z = _mix(z ^ (x & _M))
    return z >> 2


def code(loc):
    return "LOC" + chr(ord("A") + loc)


def new_key(b, loc, t):
    return LOCS * KEYS_PER_LOC + (b * LOCS + loc) * NEW_PER_SCRAPE + t


def scraped(seed, b):
    if b == 0:
        return list(range(LOCS))
    s = h(seed, 2, b) % LOCS
    return [(s + t * LOCS // SCRAPED_PER_BATCH) % LOCS for t in range(SCRAPED_PER_BATCH)]


def batches(seed, last):
    """Yields (b, {doc_id: (loc, n_chars)}) for b = 0..last: each
    batch's rows after latest-scrape-wins."""
    change_bp = 40 + h(seed, 1) % 81
    keys = [[loc * KEYS_PER_LOC + j for j in range(KEYS_PER_LOC)] for loc in range(LOCS)]
    cur = {k: 100 + h(seed, 3, k) % 900 for ks in keys for k in ks}
    for b in range(last + 1):
        rows = {}
        for loc in scraped(seed, b):
            if b > 0:
                for t in range(NEW_PER_SCRAPE):
                    k = new_key(b, loc, t)
                    keys[loc].append(k)
                    cur[k] = 100 + h(seed, 3, k) % 900
                for k in keys[loc]:
                    if h(seed, 6, b, k) % 10000 < change_bp:
                        cur[k] = 100 + h(seed, 4, b, k) % 900
                for k in keys[loc]:
                    if h(seed, 7, b, k) % 10000 < RESCRAPE_BP:
                        cur[k] = 100 + h(seed, 5, b, k) % 900
            for k in keys[loc]:
                rows[k] = (loc, cur[k])
        yield b, rows


def predict(seed, last):
    """The store after batch `last`: per-batch (rows, sum N_CHARS) of
    the current view, the final view's rows and the ingest log's rows
    (batches 1..last)."""
    store = {}  # doc_id -> (loc, n_chars, batch)
    views = {}
    log = []
    for b, rows in batches(seed, last):
        per_loc = {}
        for k, (loc, n) in rows.items():
            old = store.get(k)
            if old is None or old[1] != n:
                store[k] = (loc, n, b)
                if b > 0:
                    cnt, tot = per_loc.get(loc, (0, 0))
                    per_loc[loc] = (cnt + 1, tot + n)
        for loc, (cnt, tot) in per_loc.items():
            log.append({"BATCH": b, "LOC_ID": code(loc), "DATA_AMT": cnt, "TOTAL_CHARS": tot})
        views[b] = (len(store), sum(v[1] for v in store.values()))
    epoch = datetime.datetime(2024, 1, 1)
    view = [{
        "LOC_ID": code(loc), "DOC_ID": k, "LANG": LANGS[k % 4], "N_CHARS": n,
        "CURRENT_IND": "Y", "SRC_FILENAME": code(loc).lower() + "_modified.csv",
        "LST_UPDT_TS": epoch + datetime.timedelta(minutes=k), "BATCH": b,
    } for k, (loc, n, b) in store.items()]
    return views, view, log
