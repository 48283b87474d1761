"""Correctness checks of the recipe benchmark.

Each check compares what the program returned against a computation
made apart from it: calendar and generator arithmetic (gen.py), DuckDB
over the Parquet files the program wrote or read, or plain Python over
those rows. Each returns a list of problems; an empty list passes.
tests/test_checks.py plants wrong answers into every one of them.
"""
import json
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import gen


def _duck():
    import duckdb
    return duckdb.connect()


def catalog_sql(dir_):
    """A DuckDB relation over a month-partitioned catalog directory."""
    return (f"read_parquet('{dir_}/**/*.parquet', hive_partitioning = true, "
            "hive_types = {'collection_id': VARCHAR, 'month': VARCHAR})")


# -------------------------------------------------------- geometry oracle


def envelope(geom):
    """[w, s, e, n] of a GeoJSON Point, LineString or Polygon."""
    t, c = geom["type"], geom["coordinates"]
    pts = [c] if t == "Point" else c if t == "LineString" else c[0]
    xs, ys = [p[0] for p in pts], [p[1] for p in pts]
    return [min(xs), min(ys), max(xs), max(ys)]


def _segment_hits_box(a, b, box):
    """Liang-Barsky: does the closed segment a-b meet the closed box?"""
    w, s, e, n = box
    t0, t1 = 0.0, 1.0
    dx, dy = b[0] - a[0], b[1] - a[1]
    for p, q in ((-dx, a[0] - w), (dx, e - a[0]), (-dy, a[1] - s), (dy, n - a[1])):
        if p == 0:
            if q < 0:
                return False
        else:
            r = q / p
            if p < 0:
                t0 = max(t0, r)
            else:
                t1 = min(t1, r)
            if t0 > t1:
                return False
    return True


def intersects_box(geom, box):
    """Exact intersection of a GeoJSON geometry with an axis-aligned box."""
    w, s, e, n = box
    t, c = geom["type"], geom["coordinates"]
    if t == "Point":
        return w <= c[0] <= e and s <= c[1] <= n
    if t == "LineString":
        if len(c) == 1:
            return w <= c[0][0] <= e and s <= c[0][1] <= n
        return any(_segment_hits_box(c[i], c[i + 1], box) for i in range(len(c) - 1))
    if t == "Polygon":
        # the catalog's polygons are bbox rectangles: envelope overlap
        pw, ps, pe, pn = envelope(geom)
        return pw <= e and w <= pe and ps <= n and s <= pn
    raise ValueError(f"unexpected geometry type {t}")


# ------------------------------------------------------------ bulk ingest


def check_partitions(actual, expected):
    """{(collection, month): n} written vs calendar/generator arithmetic."""
    problems = []
    for key in sorted(set(actual) | set(expected)):
        if actual.get(key, 0) != expected.get(key, 0):
            problems.append(f"partition {key}: {actual.get(key, 0)} items, "
                            f"expected {expected.get(key, 0)}")
    return problems


def check_quarantine(actual, expected):
    return [] if actual == expected else [
        f"quarantined {actual} rows, expected {expected}"]


def check_geometry(rows):
    """rows: (item_id, geometry GeoJSON, bbox_w, bbox_s, bbox_e, bbox_n,
    bbox list). The geometry's envelope must equal the bbox, and the
    bbox array the four scalars."""
    problems = []
    for iid, g, w, s, e, n, bbox in rows:
        env = envelope(json.loads(g))
        if env != [w, s, e, n] or list(bbox) != [w, s, e, n]:
            problems.append(f"{iid}: envelope {env}, bbox {[w, s, e, n]} / {list(bbox)}")
    return problems[:5]


def check_points(rows, expected):
    """rows: (collection_id, item_id, geometry type) of in-situ items;
    expected: {(collection_id, item_id): is_point}."""
    problems = []
    seen = set()
    for cid, iid, gtype in rows:
        seen.add((cid, iid))
        want = expected.get((cid, iid))
        if want is None:
            problems.append(f"unexpected in-situ item {cid}/{iid}")
        elif (gtype == "Point") != want:
            problems.append(f"{iid}: {gtype}, expected {'Point' if want else 'LineString'}")
    missing = set(expected) - seen
    if missing:
        problems.append(f"{len(missing)} in-situ items missing, e.g. {sorted(missing)[0]}")
    return problems[:5]


def verify_archive(con, catalog, quarantine, expected):
    """The catalog of one bulk ingest against gen.bulk_archive's
    arithmetic: items per (collection, month), quarantined rows, every
    geometry's envelope, and which in-situ tracks are Points."""
    cat = catalog_sql(catalog)
    actual = {(c, m): n for c, m, n in con.sql(
        f"SELECT collection_id, month, count(*) FROM {cat} GROUP BY 1, 2").fetchall()}
    problems = check_partitions(actual, expected["per_partition"])
    q = sum(con.sql(f"SELECT count(*) FROM read_parquet('{quarantine}/{t}/*.parquet')")
            .fetchone()[0] for t in ("granules", "insitu"))
    problems += check_quarantine(q, expected["quarantined"])
    problems += check_geometry(con.sql(
        f"SELECT item_id, geometry, bbox_w, bbox_s, bbox_e, bbox_n, bbox FROM {cat}").fetchall())
    problems += check_points(
        [(c, i, json.loads(g)["type"]) for c, i, g in con.sql(
            f"SELECT collection_id, item_id, geometry FROM {cat} "
            f"WHERE collection_id LIKE '{gen.INSITU_ROOT}%'").fetchall()],
        expected["insitu_points"])
    return problems


# ------------------------------------------------------------- nrt_upsert


def check_totals(archive_total, totals, reapply_total, expected):
    """Each batch adds exactly its new items; re-applying batch 0 right
    after it changes nothing."""
    problems = []
    if archive_total != expected["archive"]:
        problems.append(f"archive holds {archive_total} items, expected {expected['archive']}")
    want = expected["archive"]
    for k, got in enumerate(totals):
        want += expected["new_per_batch"][k]
        if got != want:
            problems.append(f"after batch {k}: {got} items, expected {want}")
    if totals and reapply_total != totals[0]:
        problems.append(f"re-applying batch 0 moved the total "
                        f"{totals[0]} -> {reapply_total}")
    return problems


def check_live_ids(live_ids, expected):
    problems = []
    for k, ids in enumerate(live_ids):
        want = expected["day_ids"][k]
        if sorted(ids) != want or len(ids) != len(set(ids)):
            extra = sorted(set(ids) - set(want))[:2]
            lost = sorted(set(want) - set(ids))[:2]
            problems.append(f"live search after batch {k}: {len(ids)} ids, "
                            f"expected {len(want)} (extra {extra}, missing {lost})")
    return problems


def check_final_items(rows, expected):
    """rows: (collection_id, item_id) of the final catalog."""
    keys = [tuple(r) for r in rows]
    problems = []
    if len(keys) != len(set(keys)):
        problems.append(f"{len(keys) - len(set(keys))} duplicated items")
    if set(keys) != expected["final"]:
        problems.append(f"item set differs: {len(set(keys) - expected['final'])} extra, "
                        f"{len(expected['final'] - set(keys))} missing")
    return problems


def check_newest_wins(stamps, expected, n_batches):
    """stamps: {item_id: ingested_at}. Re-ingested and late items of
    batch k carry the same ingested_at as batch k's new day, and that is
    later than the archive's."""
    problems = []
    archive_ids = set(stamps) - {i for k in range(n_batches)
                                 for i in expected["day_ids"][k] + expected["late"][k]
                                 + expected["reingested"][k]}
    archive_max = max((stamps[i] for i in archive_ids), default=None)
    for k in range(n_batches):
        day = {stamps.get(i) for i in expected["day_ids"][k]}
        if len(day) != 1:
            problems.append(f"batch {k}: new day carries {len(day)} ingested_at values")
            continue
        t = day.pop()
        if archive_max is not None and not t > archive_max:
            problems.append(f"batch {k}: ingested_at {t} not after the archive's {archive_max}")
        for i in expected["reingested"][k] + expected["late"][k]:
            if stamps.get(i) != t:
                problems.append(f"batch {k}: {i} has ingested_at {stamps.get(i)}, "
                                f"expected the batch's {t}")
                break
    return problems


def verify_nrt_upsert(out, result, seed, archive):
    con = _duck()
    problems = verify_archive(con, out / "archive", out / "quarantine", archive)
    n = len(result["totals"])
    expected = gen.nrt_expected(seed, n)
    problems += check_totals(result["archive_total"], result["totals"],
                             result["reapply_total"], expected)
    problems += check_live_ids(result["live_ids"], expected)
    cat = catalog_sql(out / "catalog")
    problems += check_final_items(
        con.sql(f"SELECT collection_id, item_id FROM {cat}").fetchall(), expected)
    stamps = dict(con.sql(f"SELECT item_id, ingested_at FROM {cat}").fetchall())
    problems += check_newest_wins(stamps, expected, n)
    problems += check_geometry(con.sql(
        f"SELECT item_id, geometry, bbox_w, bbox_s, bbox_e, bbox_n, bbox FROM {cat}").fetchall())
    return problems


# ------------------------------------------------------------ stac_search


def _ts(s):
    return f"TIMESTAMP '{s.replace('T', ' ').rstrip('Z')}'"


def _interval_sql(iv):
    a, b = iv.split("/")
    return f"start_datetime <= {_ts(b)} AND {_ts(a)} <= end_datetime"


def _box_sql(b):
    w, s, e, n = b
    return f"bbox_w <= {e} AND {w} <= bbox_e AND bbox_s <= {n} AND {s} <= bbox_n"


def _cql2_json_sql(node):
    if not isinstance(node, dict):
        return repr(node) if isinstance(node, str) else str(node)
    if "property" in node:
        return node["property"]
    op, args = node["op"], node["args"]
    if op in ("and", "or"):
        return "(" + f" {op.upper()} ".join(_cql2_json_sql(a) for a in args) + ")"
    return f"{_cql2_json_sql(args[0])} {op} {_cql2_json_sql(args[1])}"


def expected_program(con, cat, p):
    """What a program must return, from DuckDB over the catalog files
    (plus the exact geometry test in Python for `intersects`)."""
    kind = p["kind"]
    if kind == "search_get":
        where = f"{_box_sql(p['bbox'])} AND {_interval_sql(p['datetime'])}"
        return {"ids": [r[0] for r in con.sql(
            f"SELECT item_id FROM {cat} WHERE {where} ORDER BY item_id "
            f"LIMIT {p['limit']}").fetchall()]}
    if kind == "search_post":
        flt = p.get("cql2_text") or _cql2_json_sql(p["cql2_json"])
        rows = con.sql(f"SELECT item_id, geometry FROM {cat} WHERE "
                       f"{_box_sql(p['intersects'])} AND ({flt})").fetchall()
        hits = sorted(i for i, g in rows if intersects_box(json.loads(g), p["intersects"]))
        return {"ids": hits[:p["limit"]]}
    if kind == "item":
        return {"ids": [r[0] for r in con.sql(
            f"SELECT item_id FROM {cat} WHERE collection_id = '{p['collection']}' "
            f"AND item_id = '{p['id']}'").fetchall()]}
    where = []
    if kind == "walk":
        where.append(f"collection_id = '{p['collection']}'")
    if p.get("collections"):
        where.append("collection_id IN (" + ",".join(f"'{c}'" for c in p["collections"]) + ")")
    if p.get("bbox"):
        where.append(_box_sql(p["bbox"]))
    if p.get("datetime"):
        where.append(_interval_sql(p["datetime"]))
    w = " AND ".join(where) or "TRUE"
    agg = {
        "total": con.sql(f"SELECT count(*) FROM {cat} WHERE {w}").fetchone()[0],
        "collections": dict(con.sql(
            f"SELECT collection_id, count(*) FROM {cat} WHERE {w} GROUP BY 1").fetchall()),
        "months": dict(con.sql(
            f"SELECT strftime(start_datetime, '%Y-%m'), count(*) FROM {cat} "
            f"WHERE {w} GROUP BY 1").fetchall()),
    }
    if kind == "aggregate":
        return agg
    return {"ids": [r[0] for r in con.sql(
        f"SELECT item_id FROM {cat} WHERE {w} ORDER BY item_id").fetchall()],
        "aggregations": agg}


def check_program(p, got, want):
    kind = p["kind"]
    tag = f"program {p['pid']} ({kind})"
    if kind == "aggregate":
        return [] if got == want else [f"{tag}: aggregations {got} != {want}"]
    ids = got["ids"]
    problems = []
    if kind == "walk":
        if len(ids) != len(set(ids)):
            problems.append(f"{tag}: walk returned {len(ids) - len(set(ids))} items twice")
        if ids != sorted(ids):
            problems.append(f"{tag}: walk not in sort order")
        if len(ids) != got["aggregations"]["total"]:
            problems.append(f"{tag}: walk returned {len(ids)} items, "
                            f"/aggregations total_count {got['aggregations']['total']}")
        if got["aggregations"] != want["aggregations"]:
            problems.append(f"{tag}: aggregations {got['aggregations']} != "
                            f"{want['aggregations']}")
    if ids != want["ids"]:
        problems.append(f"{tag}: {len(ids)} ids, expected {len(want['ids'])}; first "
                        f"difference at {next((i for i, (a, b) in enumerate(zip(ids, want['ids'])) if a != b), min(len(ids), len(want['ids'])))}")
    return problems


def verify_stac_search(out, result, spec):
    con = _duck()
    cat = catalog_sql(out / "catalog")
    problems = []
    for p, got in zip(spec["programs"], result["programs"]):
        if got is None:                         # every run of it failed
            problems.append(f"program {p['pid']} ({p['kind']}): no answer")
        else:
            problems += check_program(p, got, expected_program(con, cat, p))
    if result["mismatched_pids"]:
        problems.append(f"programs {result['mismatched_pids']} answered differently "
                        "on repeats")
    return problems


# ---------------------------------------------------------- curation_pass

# the repo's own DuckDB-oracle gate: sorted columns, sorted rows, floats
# to 12 significant digits, no container-typed or HUGEINT columns
HARNESS_CHECK = Path(__file__).resolve().parents[1] / "harness" / "check.py"


def check_pass(sf_dir, pass_dir, qids):
    """A pass's results (a directory per qid, plus oracle_sql.json)
    against the qids' oracle SQL, by harness/check.py; an empty result
    proves nothing, so it fails too."""
    r = subprocess.run([sys.executable, str(HARNESS_CHECK), str(sf_dir), str(pass_dir)],
                       capture_output=True, text=True)
    problems = []
    if r.returncode != 0:
        fails = [l for l in r.stdout.splitlines() if l.startswith("FAIL")]
        problems.append(f"{pass_dir.name}: harness/check.py exited {r.returncode}: "
                        + ("; ".join(fails[:3]) or (r.stdout + r.stderr)[-500:]))
    con = _duck()
    for q in qids:
        d = pass_dir / q
        if not d.is_dir():
            problems.append(f"{pass_dir.name}/{q}: no result written")
        elif con.sql(f"SELECT count(*) FROM read_parquet('{d}/*.parquet')").fetchone()[0] == 0:
            problems.append(f"{pass_dir.name}/{q}: empty result")
    return problems


def verify_curation_pass(out, sf_dirs, qids, passes):
    """The cold pass and every timed pass, each against its own tables."""
    with ThreadPoolExecutor(max_workers=2) as pool:
        found = pool.map(lambda k: check_pass(sf_dirs[k], out / "results" / f"pass-{k}", qids),
                         range(1 + passes))
        return [p for ps in found for p in ps]


def verify(workload, out, result, seed, spec, oracle):
    out = Path(out)
    if workload == "nrt_upsert":
        return verify_nrt_upsert(out, result, seed, oracle)
    if workload == "stac_search":
        return verify_stac_search(out, result, spec)
    if workload == "curation_pass":
        return verify_curation_pass(out, spec["sf_dirs"], spec["qids"], result["passes"])
    raise ValueError(workload)
