"""Seeded inputs for the recipe benchmark.

Every workload's inputs are a pure function of ``--seed``: the AVHRR
window and the in-situ month each run ingests, the request mix of the
search clients, and the documents/embeddings tables of the curation
pass. The same functions also derive, by plain calendar and generator
arithmetic, what the program must produce from those inputs; checks.py
compares the program's outputs against them.

The sizes are fixed per workload (SIZES); only positions and draws move
with the seed, so every seed asks for the same amount of work.
"""
import datetime as dt
import random
import shutil

STEP_S = 180                       # the AVHRR 3-minute grid
DAY_SLOTS = 86400 // STEP_S        # 480 granules per full day
SLOT_OFFSET_S = 63                 # first slot of a day is 00:01:03
AVHRR = "AVHRR_SST_METOP_B-OSISAF-L2P-v1.0"
INSITU_ROOT = "INSITU_GLO_PHYBGCWAV_DISCRETE_MYNRT_013_030"
CATEGORIES = ["BO", "CT", "DB", "FB", "GL", "ML", "MO", "PF",
              "RF", "SD", "SM", "TG", "TS", "TX", "XB"]
INSITU_MONTH = "2022-05"           # every in-situ track starts 2022-05-01
# the reference's AVHRR key space
KEY_FIRST_DAY = dt.date(2016, 1, 19)
KEY_LAST_DAY = dt.date(2024, 12, 31)
FIXTURE_BAD_EVERY = 97             # FixtureGranuleSource's unparsable slots

SIZES = {
    # archive: one bulk ingest of 9 grid days, 1 fixture day and the
    # in-situ platforms; then one AVHRR day + re-ingested granules + late
    # in-situ platforms of one category per batch. Batch 0 runs in
    # set-up, then whole batches until the run's time is up. The archive
    # and 18 batch days fill days 1-28, so every batch stays in one
    # month leaf.
    "nrt_upsert": {"archive_days": 10, "platforms": 120, "reingest": 24,
                   "late_platforms": 40, "batches": 18},
    # archive served read-only to closed-loop HTTP clients
    "stac_search": {"archive_days": 20, "platforms": 120, "clients": 4},
    # sf0.01-shaped documents and embeddings tables; one cold pass in
    # set-up, then whole passes until the run's time is up
    "curation_pass": {"documents": 500, "embeddings": 500, "dim": 64,
                      "max_passes": 8},
}

# The text and pipeline qids of ROADMAP items 4-5 whose DuckDB oracle
# checks in a few seconds. text_classify_linear, sim_ann_ivf_pq,
# sim_hybrid_serve_batch and pipeline_decontaminate_retrieval are left
# out: their oracles take 6-27 s each even at this size, so a checked
# run would not fit its time budget (README.md).
CURATION_QIDS = [
    "curation_ensemble", "text_langid_nb",
    "pipeline_build_mixture", "pipeline_clean_corpus",
]


# ---------------------------------------------------------------- AVHRR


def day_start(day):
    return dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc)


def grid_slots(first_day, days):
    """Slot instants of `days` whole days: 00:01:03 + i * 3 min."""
    t0 = day_start(first_day) + dt.timedelta(seconds=SLOT_OFFSET_S)
    return [t0 + dt.timedelta(seconds=i * STEP_S)
            for i in range(days * DAY_SLOTS)]


def granule_id(t):
    return "granule-" + t.strftime("%Y%m%d%H%M%S")


def grid_window(first_day, days):
    """GranuleGridSource start/end options covering `days` whole days."""
    last = first_day + dt.timedelta(days=days - 1)
    return (f"{first_day.isoformat()}T00:01:03Z", f"{last.isoformat()}T23:59:59Z")


def fixture_window(first_day, days):
    """FixtureGranuleSource start/end (session-UTC timestamp literals)."""
    last = first_day + dt.timedelta(days=days - 1)
    return (f"{first_day.isoformat()} 00:01:03", f"{last.isoformat()} 23:59:59")


def month_of(t):
    return t.strftime("%Y-%m")


def day_interval(day):
    """A datetime interval holding exactly the granules that start on `day`.

    It opens one second after 00:01:03, where the previous day's last
    granule ends, so that granule does not overlap it."""
    d = day.isoformat()
    return f"{d}T00:01:04Z/{d}T23:58:03Z"


def seeded_day(rng, days, cross_month):
    """A first day such that `days` days fit in the key space; with
    `cross_month` the window also crosses a month boundary."""
    span = (KEY_LAST_DAY - KEY_FIRST_DAY).days - days
    while True:
        first = KEY_FIRST_DAY + dt.timedelta(days=rng.randrange(span))
        last = first + dt.timedelta(days=days - 1)
        if not cross_month or (first.month, first.year) != (last.month, last.year):
            return first


# -------------------------------------------------------------- in situ


def insitu_month(rng):
    return f"{rng.randrange(2020, 2025)}{rng.randrange(1, 13):02d}"


def platform_bad(pidx):
    """InsituSource plants an unparsable lon_min on every 13th platform."""
    return pidx % 13 == 12


def platform_point(pidx):
    """Single-row tracks (every 7th) and moored buoys (every 11th) are
    Points; every other track is a LineString."""
    return pidx % 7 == 0 or pidx % 11 == 10


def insitu_items(lo, hi, categories=CATEGORIES):
    """{(collection_id, item_id): is_point} for platforms lo <= pidx < hi."""
    out = {}
    for cat in categories:
        for p in range(lo, hi):
            if not platform_bad(p):
                out[(f"{INSITU_ROOT}-{cat}", f"{cat}-{p:04d}")] = platform_point(p)
    return out


def insitu_quarantined(lo, hi):
    return len(CATEGORIES) * sum(1 for p in range(lo, hi) if platform_bad(p))


# ------------------------------------------------------------ workloads


def bulk_archive(rng, first, grid_days, fixture_days, platforms):
    """Sources of one bulk ingest of both recipes: `grid_days` days of
    the v2 grid from `first`, then `fixture_days` days of
    FixtureGranuleSource with two seeded missing slots (and an
    unparsable bbox on every slot whose epoch second divides by 97),
    then `platforms` in-situ platforms per category (a broken lon_min on
    every 13th). Returns the source options and what the catalog must
    then hold, by calendar and generator arithmetic."""
    fx_first = first + dt.timedelta(days=grid_days)
    fx_slots = grid_slots(fx_first, fixture_days)
    missing = set(rng.sample(fx_slots, 2))
    per_partition, items, bad = {}, set(), 0      # (collection, month) -> n

    def add(cid, iid, month):
        per_partition[(cid, month)] = per_partition.get((cid, month), 0) + 1
        items.add((cid, iid))

    for t in grid_slots(first, grid_days):
        add(AVHRR, granule_id(t), month_of(t))
    for t in fx_slots:
        if t in missing:
            continue
        if int(t.timestamp()) % FIXTURE_BAD_EVERY == 0:
            bad += 1
        else:
            add(AVHRR, granule_id(t), month_of(t))
    insitu = insitu_items(0, platforms)
    for (cid, iid) in insitu:
        add(cid, iid, INSITU_MONTH)
    grid_start, grid_end = grid_window(first, grid_days)
    fx_start, fx_end = fixture_window(fx_first, fixture_days)
    sources = {
        "archive": {"start": grid_start, "end": grid_end},
        "fixture": {"start": fx_start, "end": fx_end,
                    "missing": [t.strftime("%Y-%m-%d %H:%M:%S") for t in sorted(missing)],
                    "bad_every": FIXTURE_BAD_EVERY},
        "insitu": {"platforms": platforms, "month": insitu_month(rng)},
    }
    expected = {
        "per_partition": per_partition,
        "items": items,
        "quarantined": bad + insitu_quarantined(0, platforms),
        "insitu_points": insitu,
    }
    return sources, expected


def nrt_upsert(seed):
    z = SIZES["nrt_upsert"]
    rng = random.Random(seed)
    # the archive and every batch day fall in one month, so each batch
    # rewrites the same number of month leaves whatever the seed
    first = dt.date(rng.randrange(2016, 2025), rng.randrange(2, 13), 1)
    spec, archive = bulk_archive(rng, first, z["archive_days"] - 1, 1, z["platforms"])
    batches = []
    for k in range(z["batches"]):
        day = first + dt.timedelta(days=z["archive_days"] + k)
        # re-ingested granules: batch k's own slice of the archive's
        # first day, so no granule is re-ingested twice
        re_slots = reingest_slots(first, k)
        re_start, re_end = re_slots[0], re_slots[-1]
        # late files of 40 new platforms of one category per batch; the
        # range moves on only when the categories wrap, so every batch
        # generates the same number of platforms
        lo = z["platforms"] + (k // len(CATEGORIES)) * z["late_platforms"]
        batches.append({
            "category": CATEGORIES[k % len(CATEGORIES)],
            "day": grid_window(day, 1),
            "interval": day_interval(day),
            "reingest": [re_start.strftime("%Y-%m-%dT%H:%M:%SZ"),
                         re_end.strftime("%Y-%m-%dT%H:%M:%SZ")],
            "late": [lo, lo + z["late_platforms"]],
        })
    spec["batches"] = batches
    return spec, archive


def reingest_slots(first, k):
    n = SIZES["nrt_upsert"]["reingest"]
    return grid_slots(first, 1)[k * n:(k + 1) * n]


def nrt_expected(seed, n_batches):
    """Archive size, per-batch new items, live-search ids and the final
    item set after `n_batches` batches, from calendar arithmetic."""
    z = SIZES["nrt_upsert"]
    spec, expected = nrt_upsert(seed)
    first = dt.date.fromisoformat(spec["archive"]["start"][:10])
    archive = expected["items"]
    items = set(archive)
    new_per_batch, day_ids, reingested, late = [], [], [], []
    for k in range(n_batches):
        day = first + dt.timedelta(days=z["archive_days"] + k)
        ids = [granule_id(t) for t in grid_slots(day, 1)]
        b = spec["batches"][k]
        late_items = set(insitu_items(*b["late"], categories=[b["category"]]))
        re_ids = [granule_id(t) for t in reingest_slots(first, k)]
        new = {(AVHRR, i) for i in ids} | late_items
        new_per_batch.append(len(new - items))
        items |= new
        day_ids.append(sorted(ids))
        reingested.append(re_ids)
        late.append(sorted(i for (_c, i) in late_items))
    return {"archive": len(archive), "new_per_batch": new_per_batch,
            "day_ids": day_ids, "reingested": reingested, "late": late,
            "final": items}


def stac_search(seed):
    """The archive and the seeded request mix of the search clients.

    Each program is one STAC request, or a collection walk that follows
    `next` links to the end and then asks /aggregations for the same
    filter. Searches carrying a datetime prune to a few month
    directories; the rest scan every file.

    The mix is an assumption, not a measured trace: nothing in the repo
    gives the reference's request proportions or sizes. It takes one to
    eight of each request kind the reference's STAC API serves (8 bbox
    + datetime GETs, 4 CQL2-text and 4 cql2-json POSTs with
    `intersects`, 3 walks, 3 item GETs, 2 aggregations), boxes of
    40 x 20 and 60 x 30 degrees, 2- and 5-day intervals and limit=50.
    The traced run reports the share of searches that prune
    (query.pruned_share), so a change can tell which traffic it helps."""
    z = SIZES["stac_search"]
    rng = random.Random(seed)
    first = seeded_day(rng, z["archive_days"], cross_month=True)
    month = insitu_month(rng)
    days = [first + dt.timedelta(days=i) for i in range(z["archive_days"])]
    insitu_cids = [f"{INSITU_ROOT}-{c}" for c in CATEGORIES]

    def frac(lo, hi):
        # .37 / .013 offsets: never equal to a grid (integer) or a
        # track (multiple of 0.05 / 0.03) coordinate, so no query edge
        # touches an item edge and open/closed semantics cannot differ
        return rng.randrange(lo, hi) + 0.37

    def box(width, height):
        w, s = frac(-170, 120), frac(-60, 30)
        return [w, s, w + width + 0.013, s + height + 0.013]

    def interval(n_days):
        d0 = rng.randrange(len(days) - n_days)
        return (f"{days[d0].isoformat()}T{rng.randrange(24):02d}:17:00Z/"
                f"{days[d0 + n_days - 1].isoformat()}T{rng.randrange(24):02d}:43:00Z")

    # sizes and thresholds are fixed, so every seed's mix costs the same;
    # only positions move with the seed
    programs = []
    for _ in range(8):
        programs.append({"kind": "search_get", "bbox": box(40, 20),
                         "datetime": interval(2), "limit": 50})
    for i in range(4):
        programs.append({"kind": "search_post", "intersects": box(60, 30),
                         "cql2_text": (f"bbox_s >= -20 AND collection_id LIKE "
                                       f"'{'AVHRR' if i % 2 == 0 else 'INSITU'}%'"),
                         "limit": 50})
    for _ in range(4):
        programs.append({"kind": "search_post", "intersects": box(60, 30),
                         "cql2_json": {"op": "and", "args": [
                             {"op": ">=", "args": [{"property": "bbox_n"}, -20]},
                             {"op": "<", "args": [{"property": "bbox_w"}, 100]}]},
                         "limit": 50})
    for i in range(3):
        if i == 0:
            programs.append({"kind": "walk", "collection": AVHRR,
                             "datetime": day_interval(rng.choice(days)), "limit": 100})
        else:
            programs.append({"kind": "walk", "collection": rng.choice(insitu_cids),
                             "limit": 100})
    for i in range(3):
        if i < 2:
            t = rng.choice(grid_slots(rng.choice(days), 1))
            programs.append({"kind": "item", "collection": AVHRR, "id": granule_id(t)})
        else:
            cat = rng.choice(CATEGORIES)
            p = rng.choice([p for p in range(z["platforms"]) if not platform_bad(p)])
            programs.append({"kind": "item", "collection": f"{INSITU_ROOT}-{cat}",
                             "id": f"{cat}-{p:04d}"})
    programs.append({"kind": "aggregate", "datetime": interval(5)})
    programs.append({"kind": "aggregate", "collections": [AVHRR], "bbox": box(60, 30)})
    for i, p in enumerate(programs):
        p["pid"] = i
    orders = []
    for _ in range(z["clients"]):
        order = list(range(len(programs)))
        rng.shuffle(order)
        orders.append(order)
    a_start, a_end = grid_window(first, z["archive_days"])
    spec = {
        "archive": {"start": a_start, "end": a_end},
        "insitu": {"platforms": z["platforms"], "month": month},
        "programs": programs,
        "client_orders": orders,
    }
    return spec, {}


def curation_inputs(seed, work):
    """The tables, written once and copied to one root per pass: root 0
    for the cold pass in set-up, the rest for the timed passes."""
    z = SIZES["curation_pass"]
    roots = [work / "sf" / str(k) for k in range(1 + z["max_passes"])]
    roots[0].mkdir(parents=True)
    curation_tables(seed, roots[0], z["documents"], z["embeddings"])
    for r in roots[1:]:
        shutil.copytree(roots[0], r)
    return {"qids": CURATION_QIDS, "sf_dirs": [str(r) for r in roots]}


def curation_tables(seed, out_dir, n, m):
    """Write documents.parquet and embeddings.parquet in the shape of
    the fixture tables (FIXTURES.md §A): n documents of 10-100 words over
    a 30-word vocabulary in five languages, 20 sources, 5%
    near-duplicates (another document's text plus " dup") and a few
    exact duplicates; m unit-norm 64-d float embeddings, 10 labels."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vocab = np.array(["spark", "window", "merge", "table", "column", "vector",
                      "stream", "value", "data", "small", "join", "filter",
                      "big", "group", "hash", "customer", "sort", "order",
                      "slow", "line", "part", "fast", "row", "the", "agg",
                      "key", "query", "a", "scan", "batch"])
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n)]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, 8, replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    langs = rng.choice(["en", "zh", "de", "fr", "es"], n,
                       p=[0.41, 0.15, 0.14, 0.15, 0.15])
    docs = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    dim = SIZES["curation_pass"]["dim"]
    vecs = rng.normal(size=(m, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32()),
    })
    pq.write_table(docs, f"{out_dir}/documents.parquet", row_group_size=65536)
    pq.write_table(emb, f"{out_dir}/embeddings.parquet", row_group_size=65536)
