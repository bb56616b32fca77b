"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests

The round-trip test builds the program and the harness (as a benchmark run
does) the first time it runs; the others are pure Python.
"""

import json
import os
import re
import sys
import unittest

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import aisgen  # noqa: E402
import check  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def sink_frames(feed):
    """The tables a correct pipeline writes for `feed`, as pandas frames."""
    pos = pd.DataFrame(feed.expected_positions())
    sink_pos = pos.assign(location=[{"lat": a, "lon": b} for a, b in zip(pos.lat, pos.lon)])
    sink_pos = sink_pos[["mmsi", "status", "timestamp", "location", "speed", "heading"]]
    wx = pos.assign(**check.expected_weather(pos.lat.to_numpy(), pos.lon.to_numpy()))
    info = pd.DataFrame(feed.expected_info())
    return sink_pos, info, wx


def verdict_for(sink_pos, info, wx, feed):
    con = duckdb.connect()
    con.register("sink_pos", sink_pos)
    con.register("sink_info", info)
    con.register("sink_wx", wx)
    return check.check(con, feed)


class RoundTrip(unittest.TestCase):
    def test_generator_decodes_to_closed_form(self):
        """Lines from the generator, decoded by the program's own NMEA and AIS
        decoders, give back every message's closed-form fields."""
        feed = aisgen.Feed(seed=5, messages=3000, ships=40)
        run.build()
        d = os.path.join(run.WORK, "test")
        os.makedirs(d, exist_ok=True)
        lines = os.path.join(d, "roundtrip.nmea")
        with open(lines, "w") as f:
            f.write("\n".join(feed.lines) + "\n")
        out = run.harness("decode", [lines], d, timeout=120)
        got = {r["receiverTs"]: r for r in out["decoded"]}
        self.assertEqual(out["rejected"], int((feed.kind == aisgen.KIND_BAD).sum()))
        self.assertEqual(set(got), set(feed.ids[feed.kind != aisgen.KIND_BAD].tolist()))

        pos = feed.expected_positions()
        for i, ts in enumerate(pos["timestamp"].tolist()):
            r = got[ts]
            status = "NotReported" if r["status"] is None else aisgen.NAV_STATUS[r["status"]]
            self.assertEqual((r["mmsi"], status, r["speed"], r["lat"], r["lon"], r["heading"]),
                             (pos["mmsi"][i], pos["status"][i], pos["speed"][i], pos["lat"][i],
                              pos["lon"][i], int(pos["heading"][i])))
        # the planted filter cuts decode, and each one fails the range/speed filter
        for m in np.flatnonzero(feed.filtered).tolist():
            r = got[int(feed.ids[m])]
            self.assertFalse(2 < r["speed"] < 75 and r["lat"] <= 90 and r["heading"] < 360)
        info = feed.expected_info()
        for i, ts in enumerate(info["timestamp"].tolist()):
            r = got[ts]
            self.assertEqual((r["mmsi"], r["shipname"], r["callsign"], r["destination"]),
                             (info["mmsi"][i], info["shipname"][i], info["callsign"][i],
                              info["destination"][i]))
            self.assertEqual(aisgen.SHIP_TYPES[r["shiptype"]], info["shiptype"][i])


class BenchmarkFile(unittest.TestCase):
    def test_metrics_match_the_runner(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.E2E)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.LAYERS)
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(run.WORKLOADS))


class PercentileRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        for q, n in ((50, 20), (75, 40), (90, 100), (99, 1000)):
            self.assertEqual(stats.min_samples(q), n)
            samples = np.arange(n, dtype=float)
            p = stats.percentile(samples, q)
            self.assertGreaterEqual(int((samples > p).sum()), stats.MIN_BEYOND - 1)
            self.assertGreaterEqual(int((samples >= p).sum()), stats.MIN_BEYOND)
            with self.assertRaises(ValueError):
                stats.percentile(samples[:-1], q)

    def test_median_of_nineteen_is_refused(self):
        with self.assertRaises(ValueError):
            stats.percentile(np.arange(19, dtype=float), 50)

    def test_workload_tails_are_supported(self):
        self.assertGreaterEqual(int(run.LIVE_RATE * 1), stats.min_samples(run.TAIL_Q["ais_live"]))
        # the closed loops time at least the harness's MinRounds rounds
        with open(os.path.join(run.HERE, "harness", "src", "main", "scala", "perfbench",
                               "Harness.scala")) as f:
            min_rounds = int(re.search(r"val MinRounds = (\d+)", f.read()).group(1))
        self.assertGreaterEqual(min_rounds, stats.min_samples(run.TAIL_Q["serving"]))


class OverheadBaseline(unittest.TestCase):
    def test_only_runs_of_the_same_build_and_window_count(self):
        work = run.WORK
        try:
            run.WORK = os.path.join(work, "test", "baseline")
            d = run.runs_dir("w")
            for f in os.listdir(d):
                os.remove(os.path.join(d, f))
            for i, (build, seconds, v) in enumerate((("a", 5, 1.0), ("a", 5, 3.0), ("b", 5, 100.0),
                                                      ("a", 10, 100.0))):
                with open(os.path.join(d, f"{i}-trace0.json"), "w") as f:
                    json.dump({"build": build, "seconds": seconds, "e2e": {"setup_s": v}}, f)
            self.assertEqual(run.untraced_medians("w", "a", 5), {"setup_s": 2.0})
            self.assertEqual(run.untraced_medians("w", "c", 5), {})
        finally:
            run.WORK = work


class LostAndMispaired(unittest.TestCase):
    def setUp(self):
        self.feed = aisgen.Feed(seed=9, messages=4000, ships=50)
        self.pos, self.info, self.wx = sink_frames(self.feed)

    def test_correct_tables_pass(self):
        v = verdict_for(self.pos, self.info, self.wx, self.feed)
        self.assertTrue(v["correct"])
        self.assertEqual((v["failed"], v["lost"], v["mispaired"]), (0, 0, 0))

    def test_planted_losses_and_mispairs_are_counted(self):
        info = self.info.copy()
        # fragment 2 of another message: shiptype and destination come from it
        swap = info.index[3:5]
        info.loc[swap, ["shiptype", "destination"]] = info.loc[info.index[10:12],
                                                               ["shiptype", "destination"]].to_numpy()
        info.loc[swap, "shipname"] = info.loc[swap, "shipname"] + "X"
        info = info.drop(info.index[20:23])               # three type-5 messages lost
        pos = self.pos.drop(self.pos.index[7])            # one position lost ...
        wx = self.wx[self.wx.timestamp != self.pos.timestamp.iloc[7]]  # ... so never enriched
        v = verdict_for(pos, info, wx, self.feed)
        self.assertTrue(v["correct"])
        self.assertEqual(v["mispaired"], 2)
        self.assertEqual(v["info_lost"], 3)
        self.assertEqual(v["lost"], 4)
        self.assertEqual(v["failed"], 6)

    def test_wrong_or_unexpected_rows_are_incorrect(self):
        wrong = self.wx.copy()
        wrong.loc[wrong.index[0], "temp_f"] += 1.0
        self.assertFalse(verdict_for(self.pos, self.info, wrong, self.feed)["correct"])
        bad = int(self.feed.ids[self.feed.kind == aisgen.KIND_BAD][0])  # planted bad checksum
        extra = pd.concat([self.pos, self.pos.iloc[:1].assign(timestamp=bad)])
        self.assertFalse(verdict_for(extra, self.info, self.wx, self.feed)["correct"])
        other = self.info.copy()
        other.loc[other.index[0], "mmsi"] = "1"            # not explained by a mis-pairing
        self.assertFalse(verdict_for(self.pos, other, self.wx, self.feed)["correct"])


def serving_spans(slow_ms=0.0, slow_in="D3", slow_step="execute", probe=False, rounds=20):
    """Spans of measured serving rounds as the harness records them: a round
    holds a refresh (D1-D6) and a catalog pass; each query's execute holds a
    job. The query named `slow_in` gets `slow_ms` more in its `slow_step`
    span, outside every job, and with `probe` a job while it is built."""
    spans, t, sid = [], 0.0, 0

    def add(name, start, end, parent, req, attrs=None):
        nonlocal sid
        sid += 1
        spans.append({"id": sid, "name": name, "start": start, "end": end,
                      "parent": str(parent) if parent else "", "request": req,
                      "attrs": attrs or {}})
        return sid

    def query(q, parent, req):
        nonlocal t
        work = 100.0 if q == "D3" else 20.0
        extra = slow_ms if q == slow_in else 0.0
        c_extra = extra if slow_step == "construct" else 0.0
        e_extra = extra if slow_step == "execute" else 0.0
        qid = add(q, t, t + 5 + c_extra + work + 2 + e_extra, parent, req)
        cid = add("construct", t, t + 5 + c_extra, qid, req)
        if probe and q == slow_in:
            add("job", t + 1, t + 2, cid, req, {"tasks": 1})
        t += 5 + c_extra
        eid = add("execute", t, t + work + 2 + e_extra, qid, req)
        add("job", t + 1, t + 1 + work, eid, req, {"tasks": 4})
        t += work + 2 + e_extra

    for r in range(rounds):
        req = f"r{r}"
        rid = add("round", t, 0, "", req)
        for part, queries in (("refresh", run.DASHBOARD_QUERIES), ("catalog", run.CATALOG_QUERIES)):
            pid = add(part, t, 0, rid, req)
            t += 1
            for q in queries:
                query(q, pid, req)
            spans[pid - 1]["end"] = t
        spans[rid - 1]["end"] = t + 1
        t += 2
    spans.append({"id": sid + 1, "name": "measure", "start": 0, "end": t, "parent": "",
                  "request": "", "attrs": {"compile_count": 0, "compile_ms": 0}})
    return {"spans": spans}


class TracedSplit(unittest.TestCase):
    def test_self_time_excludes_children(self):
        spans = [{"id": 1, "name": "a", "start": 0, "end": 10, "parent": ""},
                 {"id": 2, "name": "b", "start": 1, "end": 4, "parent": "1"},
                 {"id": 3, "name": "c", "start": 3, "end": 6, "parent": "1"},
                 {"id": 4, "name": "d", "start": 8, "end": 20, "parent": "1"}]
        self.assertEqual(stats.self_times(spans), {1: 3.0, 2: 3.0, 3: 3.0, 4: 12.0})

    def test_planted_slow_layer_shows_in_the_split(self):
        base = run.serving_layers(serving_spans())
        slow = run.serving_layers(serving_spans(slow_ms=50.0))
        self.assertAlmostEqual(slow["Dashboard.d3_ms_p50"] - base["Dashboard.d3_ms_p50"], 50.0)
        self.assertAlmostEqual(slow["engine.unattributed_ms"] - base["engine.unattributed_ms"], 50.0)
        for k in ("Dashboard.d1_ms_p50", "Dashboard.d2_ms_p50", "Dashboard.d5_ms_p50",
                  "plans.construct_ms", "plans.construct_jobs", "spark.jobs", "spark.tasks"):
            self.assertEqual(slow[k], base[k], k)

    def test_planted_slow_plan_construction_shows_in_plans(self):
        """A catalog query whose construction got slower and submits a probe
        job moves the plans figures, and not the dashboard's."""
        q = run.CATALOG_QUERIES[-1]
        base = run.serving_layers(serving_spans())
        slow = run.serving_layers(serving_spans(slow_ms=30.0, slow_in=q, slow_step="construct",
                                                probe=True))
        self.assertAlmostEqual(slow["plans.construct_ms"] - base["plans.construct_ms"], 30.0)
        self.assertEqual((base["plans.construct_jobs"], slow["plans.construct_jobs"]), (0, 1))
        self.assertEqual(slow["spark.jobs"] - base["spark.jobs"], 1)
        for k in ("Dashboard.d3_ms_p50", "spark.task_run_ms", "engine.unattributed_ms"):
            self.assertEqual(slow[k], base[k], k)


if __name__ == "__main__":
    unittest.main()
