"""Field-by-field check of the program's tables against the generator's closed form.

Every row a sink holds must equal the expected row of the message whose
identity (the tag-block ``c:`` value, the ``timestamp`` column) it carries.

Type-5 messages arrive as two fragments. An info row whose fragment-1 fields
(mmsi, callsign) match its message but whose other fields do not was
assembled with the fragment 2 of another message: it is *mis-paired*. An
expected row that never appears is *lost*. Both are failed operations. Any
other difference, a duplicate, or a row for an identity that must produce
none (a planted bad checksum or filter cut) makes the output incorrect.
"""

import numpy as np
import pyarrow as pa

POS_COLS = ["mmsi", "status", "speed", "lat", "lon", "heading"]
WX_COLS = ["locale", "region", "country", "condition", "temp_f", "wind_mph", "wind_dir"]
INFO_COLS = ["mmsi", "shipname", "callsign", "shiptype", "destination"]


def expected_weather(lat, lon):
    """Weather fields the enriched table must hold for each position.

    The program looks weather up at the south-west corner of the position's
    1-degree cell, and its offline client is a pure function of that cell;
    this restates that contract in closed form.
    """
    cy = np.floor(lat).astype(np.int64)
    cx = np.floor(lon).astype(np.int64)
    h = (((cy * 73856093) & 0xFFFFFFFF) ^ ((cx * 19349663) & 0xFFFFFFFF)) & 0x7FFFFFFF
    conditions = np.array(["Clear", "Partly cloudy", "Overcast", "Light rain", "Fog", "Snow"],
                          dtype=object)
    dirs = np.array(["N", "NE", "E", "SE", "S", "SW", "W", "NW"], dtype=object)
    return {
        "locale": np.array([f"cell_{a}_{b}" for a, b in zip(cy.tolist(), cx.tolist())], dtype=object),
        "region": np.array([f"region_{v}" for v in (h % 10).tolist()], dtype=object),
        "country": np.where((cy >= 57) & (cy <= 72) & (cx >= 4) & (cx <= 32), "Norway", "Sea")
        .astype(object),
        "condition": conditions[h % 6],
        "temp_f": (h % 600) / 10.0 - 10.0,
        "wind_mph": (h % 400) / 10.0,
        "wind_dir": dirs[h % 8],
    }


def register_expected(con, feed):
    pos = feed.expected_positions()
    con.register("exp_pos", pa.table(pos))
    con.register("exp_wx", pa.table({**pos, **expected_weather(pos["lat"], pos["lon"])}))
    con.register("exp_info", pa.table(feed.expected_info()))


EMPTY = {
    "sink_pos": "select ''::varchar mmsi, ''::varchar status, 0::bigint timestamp, "
                "{'lat': 0.0::double, 'lon': 0.0::double} location, 0.0::double speed, "
                "0::integer heading where false",
    "sink_info": "select ''::varchar mmsi, 0::bigint timestamp, ''::varchar shipname, "
                 "''::varchar callsign, ''::varchar shiptype, ''::varchar destination where false",
    "sink_wx": "select ''::varchar mmsi, ''::varchar status, 0.0::double speed, 0::integer heading, "
               "0::bigint timestamp, 0.0::double lat, 0.0::double lon, ''::varchar locale, "
               "''::varchar region, ''::varchar country, ''::varchar condition, "
               "0.0::double temp_f, 0.0::double wind_mph, ''::varchar wind_dir where false",
}


def _one(con, sql):
    return int(con.execute(sql).fetchone()[0])


def _differs(cols, a="s", b="e"):
    return " or ".join(f"{a}.{c} is distinct from {b}.{c}" for c in cols)


def _table_counts(con, sink, exp, cols):
    return {
        "rows": _one(con, f"select count(*) from {sink}"),
        "duplicates": _one(con, f"select count(*) - count(distinct timestamp) from {sink}"),
        "unexpected": _one(con, f"select count(*) from {sink} s anti join {exp} e using (timestamp)"),
        "mismatched": _one(con, f"select count(*) from {sink} s join {exp} e using (timestamp) "
                                f"where {_differs(cols)}"),
        "missing": _one(con, f"select count(*) from {exp} e anti join {sink} s using (timestamp)"),
    }


def check(con, feed, sinks_present=("sink_pos", "sink_info", "sink_wx")):
    """Compare the views sink_pos / sink_info / sink_wx with the closed form.

    Views not in ``sinks_present`` are treated as empty tables.
    """
    for name, sql in EMPTY.items():
        if name not in sinks_present:
            con.execute(f"create or replace view {name} as {sql}")
    register_expected(con, feed)
    con.execute("create or replace temp view sink_pos_flat as select mmsi, status, timestamp, "
                "location.lat as lat, location.lon as lon, speed, heading from sink_pos")
    pos = _table_counts(con, "sink_pos_flat", "exp_pos", POS_COLS)
    wx = _table_counts(con, "sink_wx", "exp_wx", POS_COLS + WX_COLS)
    info = _table_counts(con, "sink_info", "exp_info", INFO_COLS)
    mispaired = con.execute(
        f"select timestamp from sink_info s join exp_info e using (timestamp) "
        f"where ({_differs(INFO_COLS)}) and s.mmsi = e.mmsi and s.callsign = e.callsign"
    ).fetchnumpy()["timestamp"]
    info["mispaired"] = len(mispaired)
    info["unexplained"] = info["mismatched"] - info["mispaired"]
    lost = info["missing"] + pos["missing"]
    failed = lost + info["mispaired"]
    correct = (all(t["duplicates"] == 0 and t["unexpected"] == 0 for t in (pos, wx, info))
               and pos["mismatched"] == 0 and wx["mismatched"] == 0 and info["unexplained"] == 0
               # every decoded position is enriched; the live check waits for that
               and wx["missing"] == pos["missing"])
    return {"positions": pos, "enriched": wx, "info": info, "lost": lost,
            "info_lost": info["missing"], "mispaired": info["mispaired"],
            "mispaired_ids": np.asarray(mispaired, dtype=np.int64),
            "failed": failed, "correct": bool(correct)}
