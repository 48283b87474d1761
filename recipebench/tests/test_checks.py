"""Fast tests of the benchmark's correctness checks, at tiny sizes.

Each check must pass on the right answer and fail on a planted wrong
one: a dropped or duplicated item in a page walk, a count off by one, a
changed oracle row, and so on. No JVM is started.

    python3 -m unittest discover -s recipebench/tests
"""
import datetime as dt
import json
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import checks  # noqa: E402
import gen  # noqa: E402


def box_polygon(w, s, e, n):
    return json.dumps({"type": "Polygon",
                       "coordinates": [[[w, s], [e, s], [e, n], [w, n], [w, s]]]})


class GeneratorArithmetic(unittest.TestCase):
    def test_grid_has_480_slots_a_day_from_00_01_03(self):
        slots = gen.grid_slots(dt.date(2022, 5, 1), 2)
        self.assertEqual(len(slots), 960)
        self.assertEqual(gen.granule_id(slots[0]), "granule-20220501000103")
        self.assertEqual(gen.granule_id(slots[479]), "granule-20220501235803")

    def test_archive_counts_add_up(self):
        z = gen.SIZES["nrt_upsert"]
        spec, archive = gen.nrt_upsert(7)
        fixture = gen.DAY_SLOTS - 2                     # two missing slots
        insitu = len(gen.insitu_items(0, z["platforms"]))
        fixture_bad = archive["quarantined"] - gen.insitu_quarantined(0, z["platforms"])
        self.assertEqual(len(archive["items"]) - insitu,
                         (z["archive_days"] - 1) * gen.DAY_SLOTS + fixture - fixture_bad)
        self.assertEqual(sum(archive["per_partition"].values()), len(archive["items"]))
        self.assertEqual(len(spec["fixture"]["missing"]), 2)

    def test_batches_stay_in_the_archive_month(self):
        for seed in range(20):
            spec, _ = gen.nrt_upsert(seed)
            months = {b["day"][0][:7] for b in spec["batches"]}
            self.assertEqual(months, {spec["archive"]["start"][:7]})

    def test_reingested_slices_are_disjoint_archive_granules(self):
        e = gen.nrt_expected(3, gen.SIZES["nrt_upsert"]["batches"])
        _, archive = gen.nrt_upsert(3)
        seen = set()
        for ids in e["reingested"]:
            self.assertFalse(seen & set(ids))
            seen |= set(ids)
            self.assertTrue({(gen.AVHRR, i) for i in ids} <= archive["items"])

    def test_same_seed_same_inputs(self):
        self.assertEqual(gen.stac_search(3), gen.stac_search(3))
        self.assertNotEqual(gen.stac_search(3), gen.stac_search(4))

    def test_nrt_batches_add_a_day_and_late_platforms(self):
        spec, _ = gen.nrt_upsert(5)
        e = gen.nrt_expected(5, 2)
        late = [len(gen.insitu_items(*b["late"], categories=[b["category"]]))
                for b in spec["batches"][:2]]
        self.assertEqual(e["new_per_batch"], [gen.DAY_SLOTS + n for n in late])
        self.assertEqual(len(e["final"]), e["archive"] + sum(e["new_per_batch"]))


class IngestChecks(unittest.TestCase):
    def test_partition_count_off_by_one(self):
        want = {("A", "2022-01"): 10, ("A", "2022-02"): 5}
        self.assertEqual(checks.check_partitions(dict(want), want), [])
        self.assertTrue(checks.check_partitions({("A", "2022-01"): 10, ("A", "2022-02"): 4}, want))
        self.assertTrue(checks.check_partitions({("A", "2022-01"): 15}, want))

    def test_quarantine_off_by_one(self):
        self.assertEqual(checks.check_quarantine(7, 7), [])
        self.assertTrue(checks.check_quarantine(8, 7))

    def test_envelope_must_equal_bbox(self):
        good = ("g1", box_polygon(1, 2, 11, 10), 1.0, 2.0, 11.0, 10.0, [1.0, 2.0, 11.0, 10.0])
        self.assertEqual(checks.check_geometry([good]), [])
        moved = good[:1] + (box_polygon(1, 2, 12, 10),) + good[2:]
        self.assertTrue(checks.check_geometry([moved]))
        bad_array = good[:6] + ([1.0, 2.0, 11.0, 9.0],)
        self.assertTrue(checks.check_geometry([bad_array]))

    def test_points_and_lines(self):
        want = {("C", "BO-0000"): True, ("C", "BO-0001"): False}
        self.assertEqual(checks.check_points(
            [("C", "BO-0000", "Point"), ("C", "BO-0001", "LineString")], want), [])
        self.assertTrue(checks.check_points(
            [("C", "BO-0000", "LineString"), ("C", "BO-0001", "LineString")], want))
        self.assertTrue(checks.check_points([("C", "BO-0000", "Point")], want))


class UpsertChecks(unittest.TestCase):
    expected = {"archive": 100, "new_per_batch": [10, 10],
                "day_ids": [["a", "b"], ["c", "d"]],
                "reingested": [["x"], ["y"]], "late": [["l1"], ["l2"]],
                "final": {("A", i) for i in "abcdxy"}}

    def test_totals(self):
        self.assertEqual(checks.check_totals(100, [110, 120], 110, self.expected), [])
        self.assertTrue(checks.check_totals(100, [110, 121], 110, self.expected))
        self.assertTrue(checks.check_totals(101, [110, 120], 110, self.expected))
        self.assertTrue(checks.check_totals(100, [110, 120], 111, self.expected),
                        "re-applying a batch must not change the total")

    def test_live_ids(self):
        self.assertEqual(checks.check_live_ids([["b", "a"], ["c", "d"]], self.expected), [])
        self.assertTrue(checks.check_live_ids([["a"], ["c", "d"]], self.expected))
        self.assertTrue(checks.check_live_ids([["a", "b", "b"], ["c", "d"]], self.expected))

    def test_final_items(self):
        rows = sorted(self.expected["final"])
        self.assertEqual(checks.check_final_items(rows, self.expected), [])
        self.assertTrue(checks.check_final_items(rows + [rows[0]], self.expected))
        self.assertTrue(checks.check_final_items(rows[1:], self.expected))

    def test_newest_ingested_at_wins(self):
        stamps = {"z": 1, "a": 5, "b": 5, "x": 5, "l1": 5,
                  "c": 7, "d": 7, "y": 7, "l2": 7}
        self.assertEqual(checks.check_newest_wins(stamps, self.expected, 2), [])
        self.assertTrue(checks.check_newest_wins(dict(stamps, y=5), self.expected, 2))
        self.assertTrue(checks.check_newest_wins(dict(stamps, z=9), self.expected, 2),
                        "a batch older than the archive must not win")


class SearchChecks(unittest.TestCase):
    walk = {"pid": 0, "kind": "walk"}
    agg = {"total": 4, "collections": {"A": 4}, "months": {"2022-05": 4}}

    def test_walk(self):
        want = {"ids": ["a", "b", "c", "d"], "aggregations": self.agg}
        self.assertEqual(checks.check_program(self.walk, dict(want), want), [])
        dropped = {"ids": ["a", "b", "d"], "aggregations": self.agg}
        self.assertTrue(checks.check_program(self.walk, dropped, want))
        doubled = {"ids": ["a", "b", "b", "c", "d"], "aggregations": self.agg}
        self.assertTrue(checks.check_program(self.walk, doubled, want))
        unsorted = {"ids": ["b", "a", "c", "d"], "aggregations": self.agg}
        self.assertTrue(checks.check_program(self.walk, unsorted, want))
        wrong_total = {"ids": want["ids"], "aggregations": dict(self.agg, total=5)}
        self.assertTrue(checks.check_program(self.walk, wrong_total, want))

    def test_search_and_aggregate(self):
        p = {"pid": 1, "kind": "search_get"}
        self.assertEqual(checks.check_program(p, {"ids": ["a"]}, {"ids": ["a"]}), [])
        self.assertTrue(checks.check_program(p, {"ids": ["a", "b"]}, {"ids": ["a"]}))
        a = {"pid": 2, "kind": "aggregate"}
        self.assertEqual(checks.check_program(a, dict(self.agg), self.agg), [])
        self.assertTrue(checks.check_program(a, dict(self.agg, total=3), self.agg))

    def test_intersects_box(self):
        box = [0.37, 0.37, 2.37, 2.37]
        line = {"type": "LineString", "coordinates": [[-1.0, 3.0], [3.0, -1.0]]}
        self.assertTrue(checks.intersects_box(line, box))
        corner = {"type": "LineString", "coordinates": [[2.5, 0.0], [3.0, 0.5]]}
        self.assertFalse(checks.intersects_box(corner, box))
        self.assertTrue(checks.intersects_box({"type": "Point", "coordinates": [1, 1]}, box))
        self.assertFalse(checks.intersects_box({"type": "Point", "coordinates": [3, 1]}, box))

    def test_duckdb_oracle_over_a_tiny_catalog(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            rows = [("g1", 0.0, 0.0, 10.0, 8.0, "2022-05-01 00:01:03"),
                    ("g2", 50.0, 0.0, 60.0, 8.0, "2022-05-01 00:04:03"),
                    ("g3", 0.0, 0.0, 10.0, 8.0, "2022-05-02 00:01:03")]
            leaf = Path(d) / "collection_id=A" / "month=2022-05"
            leaf.mkdir(parents=True)
            ts = [dt.datetime.fromisoformat(r[5]) for r in rows]
            pq.write_table(pa.table({
                "item_id": [r[0] for r in rows],
                "geometry": [box_polygon(*r[1:5]) for r in rows],
                "bbox_w": [r[1] for r in rows], "bbox_s": [r[2] for r in rows],
                "bbox_e": [r[3] for r in rows], "bbox_n": [r[4] for r in rows],
                "start_datetime": ts,
                "end_datetime": [t + dt.timedelta(minutes=3) for t in ts],
            }), leaf / "part-0.parquet")
            con = checks._duck()
            cat = checks.catalog_sql(d)
            p = {"kind": "search_get", "bbox": [5.37, 1.37, 20.37, 3.37],
                 "datetime": "2022-05-01T00:00:00Z/2022-05-01T12:00:00Z", "limit": 10}
            self.assertEqual(checks.expected_program(con, cat, p), {"ids": ["g1"]})
            post = {"kind": "search_post", "intersects": [-1.37, -1.37, 55.37, 1.37],
                    "cql2_json": {"op": ">=", "args": [{"property": "bbox_w"}, 1]}, "limit": 10}
            self.assertEqual(checks.expected_program(con, cat, post), {"ids": ["g2"]})
            walk = {"kind": "walk", "collection": "A", "limit": 1}
            want = checks.expected_program(con, cat, walk)
            self.assertEqual(want["ids"], ["g1", "g2", "g3"])
            self.assertEqual(want["aggregations"]["total"], 3)
            self.assertEqual(want["aggregations"]["months"], {"2022-05": 3})


class CurationChecks(unittest.TestCase):
    """check_pass runs the repo's harness/check.py over a pass directory."""
    oracle = {"q": "SELECT lang, CAST(count(*) AS BIGINT) AS n, avg(n_chars) AS mean "
                   "FROM documents GROUP BY lang"}
    right = {"lang": ["de", "en"], "n": [1, 2], "mean": [3.0, 0.1 + 0.2]}

    def run_passes(self, *results):
        """A run's passes, the k-th with results[k], each on its own copy
        of the tables, laid out as the JVM writes them; the problems
        verify_curation_pass finds in them."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            sf_dirs = []
            for k, result in enumerate(results):
                sf, out = Path(d) / "sf" / str(k), Path(d) / "results" / f"pass-{k}"
                sf.mkdir(parents=True)
                pq.write_table(pa.table({"lang": ["en", "de", "en"],
                                         "n_chars": pa.array([0.1, 3.0, 0.5], pa.float64())}),
                               sf / "documents.parquet")
                (out / "q").mkdir(parents=True)
                (out / "oracle_sql.json").write_text(json.dumps(self.oracle))
                pq.write_table(pa.table(result), out / "q" / "part-0.parquet")
                sf_dirs.append(str(sf))
            return checks.verify_curation_pass(Path(d), sf_dirs, ["q"], len(results) - 1)

    def run_pass(self, result):
        return self.run_passes(result)

    def test_right_answer_passes(self):
        # columns in another order, floats equal to 12 digits
        self.assertEqual(self.run_pass({"mean": [0.3 + 1e-15, 3.0],
                                        "n": [2, 1], "lang": ["en", "de"]}), [])

    def test_changed_oracle_row_fails(self):
        self.assertTrue(self.run_pass(dict(self.right, n=[1, 3])))

    def test_dropped_row_fails(self):
        self.assertTrue(self.run_pass({k: v[:1] for k, v in self.right.items()}))

    def test_renamed_column_fails(self):
        self.assertTrue(self.run_pass({"lang": self.right["lang"], "count": self.right["n"],
                                       "mean": self.right["mean"]}))

    def test_every_pass_is_checked(self):
        self.assertEqual(self.run_passes(self.right, self.right, self.right), [])
        found = self.run_passes(self.right, self.right, dict(self.right, n=[1, 3]))
        self.assertTrue(found)
        self.assertTrue(all("pass-2" in p for p in found), found)

    def test_empty_result_fails(self):
        import pyarrow as pa
        empty = pa.table({"lang": pa.array([], pa.string()), "n": pa.array([], pa.int64()),
                          "mean": pa.array([], pa.float64())})
        self.oracle = {"q": "SELECT * FROM (" + CurationChecks.oracle["q"] + ") WHERE n > 9"}
        self.assertTrue(self.run_pass(empty))


if __name__ == "__main__":
    unittest.main()
