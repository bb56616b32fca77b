"""Read the program's parquet sinks the way a reader does.

A Structured Streaming file sink makes a batch visible by writing one file
to ``<table>/_spark_metadata`` (an atomic rename) that lists the batch's
parquet files; ``spark.read.parquet(<table>)`` returns exactly the files that
log lists. A row therefore becomes visible at the modification time of the
first log file that lists its parquet file, and the table's contents are the
rows of the listed files.
"""

import json
import os

import duckdb
import numpy as np


def _local(path):
    for prefix in ("file://", "file:"):
        if path.startswith(prefix):
            return path[len(prefix):]
    return path


class Sink:
    """Incremental view of one file-sink table."""

    def __init__(self, table_dir):
        self.dir = table_dir
        self.log_dir = os.path.join(table_dir, "_spark_metadata")
        self.logs_seen = set()
        self.files = {}      # parquet path -> visibility time (s, epoch)
        self.ids = []        # per newly visible file: (visible_at, np.array of timestamps)
        self.last_change = None
        self.con = duckdb.connect()

    def poll(self):
        """Pick up newly committed batches; returns the number of new files."""
        if not os.path.isdir(self.log_dir):
            return 0
        new = 0
        for name in sorted(os.listdir(self.log_dir), key=lambda n: (len(n), n)):
            if name.startswith(".") or name.endswith(".tmp") or name in self.logs_seen:
                continue
            path = os.path.join(self.log_dir, name)
            try:
                at = os.stat(path).st_mtime
                with open(path) as f:
                    entries = [json.loads(l) for l in f.read().splitlines()[1:] if l.strip()]
            except (OSError, ValueError):
                continue  # a file being replaced; the next poll sees it whole
            self.logs_seen.add(name)
            for e in entries:
                p = _local(e["path"])
                if e.get("action", "add") == "add" and p not in self.files:
                    self.files[p] = at
                    new += 1
                    ids = self.con.execute(
                        f"select timestamp from read_parquet('{p}')").fetchnumpy()["timestamp"]
                    self.ids.append((at, np.asarray(ids, dtype=np.int64)))
            self.last_change = at if self.last_change is None else max(self.last_change, at)
        return new

    def visible(self):
        """(ids, visible_at) over every committed row, in commit order."""
        if not self.ids:
            return np.zeros(0, np.int64), np.zeros(0)
        ids = np.concatenate([i for _, i in self.ids])
        at = np.concatenate([np.full(len(i), t) for t, i in self.ids])
        return ids, at

    def relation(self, con, name):
        """Register the table's committed rows as a DuckDB view."""
        files = sorted(self.files)
        if files:
            lst = ", ".join(f"'{f}'" for f in files)
            con.execute(f"create or replace view {name} as select * from read_parquet([{lst}])")
        return bool(files)

    def size(self):
        return len(self.files), sum(os.path.getsize(f) for f in self.files if os.path.exists(f))
