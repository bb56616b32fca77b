"""Seeded `events` and `nation` tables for the catalog workload.

The catalog's queries read the program's driver tables by name
(``<dir>/events.parquet``, ``<dir>/nation.parquet``). This module writes
tables of the same schema from a seed, so a checkout builds its own inputs:

* ``events``: ``event_id`` 0..n-1 in time order, ``ts`` uniform over 30 days
  from 2024-01-01 (microseconds), ``user_id`` over ``users`` users, five
  ``event_type`` values with equal weight, ``value`` in cents (two decimals)
  and a small JSON ``props``;
* ``nation``: 25 rows, ``n_nationkey`` 0-24.

The answers are checked against each query's own DuckDB oracle over the same
files, so no closed form is needed here.
"""

import os

import duckdb
import numpy as np
import pyarrow as pa

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"], dtype=object)
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400_000_000


def write_tables(seed, directory, events, users):
    """Write ``events.parquet`` and ``nation.parquet`` under ``directory``."""
    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)
    ts = np.sort(T0_US + rng.choice(SPAN_US, events, replace=False))
    ev = pa.table({
        "event_id": np.arange(events, dtype=np.int64),
        "ts_us": ts.astype(np.int64),
        "user_id": rng.integers(0, users, events).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), events)],
        "value": rng.integers(1, 50_000, events) / 100.0,
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, events).tolist()],
                          dtype=object),
    })
    con = duckdb.connect()
    con.register("ev", ev)
    con.execute(f"""copy (select event_id, make_timestamp(ts_us) as ts, user_id, event_type,
                                 value, props from ev order by event_id)
                    to '{os.path.join(directory, 'events.parquet')}' (format parquet)""")
    con.execute(f"""copy (select i::integer as n_nationkey, 'NATION_' || i as n_name,
                                 (i % 5)::integer as n_regionkey from range(25) t(i))
                    to '{os.path.join(directory, 'nation.parquet')}' (format parquet)""")
    con.close()
