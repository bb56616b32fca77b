"""Seeded AIS/NMEA feed generator with a closed-form expected row per message.

The generator is the benchmark's own: it shares no code with the program's
encoder, so a change to the program cannot change the inputs.  Payload bit
layouts follow ITU-R M.1371 (types 1/3, 18 and 5) and the public AIVDM
framing: ``\\c:<id>*hh\\!AIVDM,<total>,<num>,<seq>,<chan>,<payload>,<fill>*HH``.

Every message carries its identity in the tag-block ``c:`` value.  The
program turns ``c:`` into the ``timestamp`` column of the position, info and
enriched tables, so a row found in a sink joins back to the message that
produced it, and to the time that message was due.

The mix (fractions of messages):

* Class A position reports, types 1 and 3 (about 84%);
* Class B position reports, type 18 (about 12%);
* static and voyage reports, type 5, as two fragments with seqIds 0-9
  recycled in feed order (``TYPE5_SHARE``, 2%);
* planted bad checksums (0.5%): a well-formed position sentence whose
  checksum is off by one, which the parser must reject;
* planted filter cuts (3% of positions): speed <= 2 kn, heading 511 (not
  available) or latitude 91 (not available), which the range/speed filter
  must drop.

Ships: ``ships`` MMSIs; a position report picks its ship with Zipf(0.8)
weights, so the busiest ship reports far more often than the median one.
"""

import numpy as np

BASE_TS = 1_700_000_000
ARMOR = np.array([v + 48 if v < 40 else v + 56 for v in range(64)], dtype=np.uint8)
SIXBIT_TEXT = "@ABCDEFGHIJKLMNOPQRSTUVWXYZ[\\]^_ !\"#$%&'()*+,-./0123456789:;<=>?"

NAV_STATUS = [
    "UnderWayUsingEngine", "AtAnchor", "NotUnderCommand",
    "RestrictedManoeuverability", "ConstrainedByDraught", "Moored", "Aground",
    "EngagedInFishing", "UnderWaySailing",
    "ReservedForFutureAmendmentOfNavigationalStatusForHSC",
    "ReservedForFutureAmendmentOfNavigationalStatusForWIG",
    "PowerDrivenVesselTowingAstern",
    "PowerDrivenVesselPushingAheadOrTowingAlongside",
    "ReservedForFutureUse", "AisSartIsActive", "Undefined"]

# ship types the generator uses, with their ITU-R M.1371 table 53 names
SHIP_TYPES = {
    30: "Fishing", 31: "Towing", 36: "Sailing", 37: "PleasureCraft",
    50: "PilotVessel", 52: "Tug", 55: "LawEnforcement",
    60: "Passenger_AllShipsOfThisType", 69: "Passenger_NoAdditionalInformation",
    70: "Cargo_AllShipsOfThisType", 71: "Cargo_HazardousCategory_A",
    79: "Cargo_NoAdditionalInformation", 80: "Tanker_AllShipsOfThisType",
    84: "Tanker_HazardousCategory_D", 90: "OtherType_AllShipsOfThisType",
    45: "HSC_Reserved", 0: "NotReported"}
SHIP_TYPE_CODES = np.array(sorted(SHIP_TYPES), dtype=np.int64)

PORTS = ["BERGEN", "OSLO", "TROMSO", "STAVANGER", "HAMMERFEST", "KIRKENES",
         "ALESUND", "BODO", "ROTTERDAM", "HAMBURG", "MURMANSK", "REYKJAVIK"]

KIND_POS, KIND_INFO, KIND_BAD = 0, 1, 2
TYPE5_SHARE = 0.02
FRAG1_CHARS = 38  # fragment 1 ends inside shipname; shiptype and destination ride in fragment 2


def _put(bits, start, width, values):
    """Write unsigned (two's-complement for negatives) ints into a bit matrix."""
    v = values.astype(np.int64) & ((1 << width) - 1)
    for k in range(width):
        bits[:, start + k] = (v >> (width - 1 - k)) & 1


def _put_text(bits, start, chars, texts):
    for j in range(chars):
        col = np.array([SIXBIT_TEXT.index(t[j]) if j < len(t) else 0 for t in texts],
                       dtype=np.int64)
        _put(bits, start + 6 * j, 6, col)


def _armor(bits):
    n, nbits = bits.shape
    pad = (-nbits) % 6
    if pad:
        bits = np.concatenate([bits, np.zeros((n, pad), dtype=bits.dtype)], axis=1)
    six = bits.reshape(n, -1, 6)
    vals = (six * np.array([32, 16, 8, 4, 2, 1], dtype=np.uint8)).sum(axis=2)
    return ARMOR[vals], pad


def _xor(arr):
    return np.bitwise_xor.reduce(arr, axis=1) if arr.shape[1] else np.zeros(arr.shape[0], np.uint8)


def _xor_str(strings):
    """XOR checksum of each string in an equal-or-ragged list, vectorised."""
    arr = np.array(strings, dtype="S")
    return _xor(arr.view(np.uint8).reshape(len(arr), -1))  # NUL padding xors as 0


HEX = [f"{v:02X}" for v in range(256)]


def _sentences(payload, fill, total, num, seq, chan, ids, bad=None):
    """Render framed lines for one batch of equal-length payload fragments."""
    pay = payload.view(f"S{payload.shape[1]}").ravel().astype(str).tolist()
    heads = [f"AIVDM,{total},{num},{s},{c}," for s, c in zip(seq.tolist(), chan.tolist())]
    csum = _xor(payload) ^ _xor_str(heads) ^ _xor_str([f",{fill}"])[0]
    if bad is not None:
        csum = csum ^ bad.astype(np.uint8)
    tags = [f"c:{i}" for i in ids.tolist()]
    tsum = _xor_str(tags).tolist()
    tail = f",{fill}*"
    return [f"\\{t}*{HEX[ts]}\\!{h}{p}{tail}{HEX[c]}"
            for t, ts, h, p, c in zip(tags, tsum, heads, pay, csum.tolist())]


class Feed:
    """A generated feed: ``lines`` in feed order plus per-message columns.

    Message ``m`` (0-based, feed order) has identity ``BASE_TS + offset + m``
    and its lines are ``lines[line_start[m]:line_start[m] + line_count[m]]``.
    """

    def __init__(self, seed, messages, ships, info_fanout=None):
        rng = np.random.default_rng(seed)
        self.n, self.ships = messages, ships
        self.ts0 = BASE_TS + int(rng.integers(0, 10_000_000))
        ids = self.ts0 + np.arange(messages, dtype=np.int64)
        mmsis = 257_000_000 + rng.choice(2_000_000, ships, replace=False).astype(np.int64)

        kind = np.full(messages, KIND_POS, dtype=np.int8)
        if info_fanout:  # every ship reports type 5 exactly info_fanout times
            n5 = ships * info_fanout
            slots = rng.choice(messages, n5, replace=False)
            kind[slots] = KIND_INFO
            ship_of = np.empty(messages, dtype=np.int64)
            ship_of[np.sort(slots)] = rng.permutation(np.repeat(np.arange(ships), info_fanout))
        else:
            kind[rng.random(messages) < TYPE5_SHARE] = KIND_INFO
            ship_of = rng.integers(0, ships, messages)
        bad = (kind == KIND_POS) & (rng.random(messages) < 0.005)
        kind[bad] = KIND_BAD
        pos = kind == KIND_POS
        # Zipf(0.8) report skew over ships for position reports
        w = 1.0 / np.arange(1, ships + 1) ** 0.8
        ship_of[kind != KIND_INFO] = rng.choice(ships, int((kind != KIND_INFO).sum()), p=w / w.sum())
        self.kind, self.ids = kind, ids
        self.mmsi = mmsis[ship_of]

        # position fields (also drawn for bad-checksum messages, which reuse the layout)
        msg_type = rng.choice(np.array([1, 3, 18]), messages, p=[0.6, 0.26, 0.14])
        status = rng.integers(0, 16, messages)
        sog = rng.integers(21, 500, messages)          # 0.1 kn units: 2.1 .. 49.9 kn
        lon = rng.integers(int(-5.0 * 600000), int(31.0 * 600000), messages)
        lat = rng.integers(int(55.0 * 600000), int(71.0 * 600000), messages)
        hdg = rng.integers(0, 360, messages)
        cut = pos & (rng.random(messages) < 0.03)
        how = rng.integers(0, 3, messages)
        sog[cut & (how == 0)] = rng.integers(0, 21, int((cut & (how == 0)).sum()))
        hdg[cut & (how == 1)] = 511
        lat[cut & (how == 2)] = 91 * 600000
        self.msg_type, self.status, self.sog, self.lon, self.lat, self.hdg = \
            msg_type, status, sog, lon, lat, hdg
        self.filtered = cut

        # type 5 fields, drawn per ship-report so fan-out rows differ
        info = kind == KIND_INFO
        ni = int(info.sum())
        self.shiptype_code = np.zeros(messages, dtype=np.int64)
        self.shiptype_code[info] = rng.choice(SHIP_TYPE_CODES, ni)
        self.shipname = np.array([""] * messages, dtype=object)
        self.callsign = np.array([""] * messages, dtype=object)
        self.destination = np.array([""] * messages, dtype=object)
        iidx = np.flatnonzero(info)
        ports = rng.integers(0, len(PORTS), ni)
        for k, m in enumerate(iidx):
            s = int(self.mmsi[m] % 100000)
            self.shipname[m] = f"VESSEL {s}"
            self.callsign[m] = f"LA{s % 10000}"
            self.destination[m] = f"{PORTS[ports[k]]} {k % 7}"
        self.seq = np.full(messages, -1, dtype=np.int64)
        self.seq[info] = np.arange(ni) % 10
        self.chan = np.where(rng.random(messages) < 0.5, "A", "B")

        self._render()

    # ------------------------------------------------------------------ render
    def _render(self):
        n = self.n
        per = [None] * n
        for t in (1, 3, 18):
            idx = np.flatnonzero((self.kind != KIND_INFO) & (self.msg_type == t))
            if not len(idx):
                continue
            bits = np.zeros((len(idx), 168), dtype=np.uint8)
            _put(bits, 0, 6, np.full(len(idx), t))
            _put(bits, 8, 30, self.mmsi[idx])
            if t == 18:
                _put(bits, 46, 10, self.sog[idx])
                _put(bits, 57, 28, self.lon[idx])
                _put(bits, 85, 27, self.lat[idx])
                _put(bits, 124, 9, self.hdg[idx])
            else:
                _put(bits, 38, 4, self.status[idx])
                _put(bits, 50, 10, self.sog[idx])
                _put(bits, 61, 28, self.lon[idx])
                _put(bits, 89, 27, self.lat[idx])
                _put(bits, 128, 9, self.hdg[idx])
            pay, fill = _armor(bits)
            lines = _sentences(pay, fill, 1, 1, np.full(len(idx), "", dtype=object), self.chan[idx],
                               self.ids[idx], bad=self.kind[idx] == KIND_BAD)
            for k, m in enumerate(idx):
                per[m] = (lines[k],)
        idx = np.flatnonzero(self.kind == KIND_INFO)
        if len(idx):
            bits = np.zeros((len(idx), 424), dtype=np.uint8)
            _put(bits, 0, 6, np.full(len(idx), 5))
            _put(bits, 8, 30, self.mmsi[idx])
            _put_text(bits, 70, 7, list(self.callsign[idx]))
            _put_text(bits, 112, 20, list(self.shipname[idx]))
            _put(bits, 232, 8, self.shiptype_code[idx])
            _put_text(bits, 302, 20, list(self.destination[idx]))
            pay, fill = _armor(bits)
            f1 = _sentences(np.ascontiguousarray(pay[:, :FRAG1_CHARS]), 0, 2, 1,
                            self.seq[idx], self.chan[idx], self.ids[idx])
            f2 = _sentences(np.ascontiguousarray(pay[:, FRAG1_CHARS:]), fill, 2, 2,
                            self.seq[idx], self.chan[idx], self.ids[idx])
            for k, m in enumerate(idx):
                per[m] = (f1[k], f2[k])
        self.line_count = np.array([len(p) for p in per], dtype=np.int64)
        self.line_start = np.concatenate([[0], np.cumsum(self.line_count)[:-1]])
        self.lines = [l for p in per for l in p]

    # ----------------------------------------------------------- closed form
    def expected_positions(self):
        """Rows the position table must hold: (timestamp, mmsi, status, speed, lat, lon, heading)."""
        keep = (self.kind == KIND_POS) & ~self.filtered
        idx = np.flatnonzero(keep)
        status = np.where(self.msg_type[idx] == 18, "NotReported",
                          np.array(NAV_STATUS, dtype=object)[self.status[idx]])
        return {
            "timestamp": self.ids[idx],
            "mmsi": self.mmsi[idx].astype(str).astype(object),
            "status": status.astype(object),
            "speed": self.sog[idx] / 10.0,
            "lat": self.lat[idx] / 600000.0,
            "lon": self.lon[idx] / 600000.0,
            "heading": self.hdg[idx],
        }

    def expected_info(self):
        """Rows the info table must hold: (timestamp, mmsi, shipname, callsign, shiptype, destination)."""
        idx = np.flatnonzero(self.kind == KIND_INFO)
        return {
            "timestamp": self.ids[idx],
            "mmsi": self.mmsi[idx].astype(str).astype(object),
            "shipname": self.shipname[idx],
            "callsign": self.callsign[idx],
            "shiptype": np.array([SHIP_TYPES[int(c)] for c in self.shiptype_code[idx]], dtype=object),
            "destination": self.destination[idx],
        }

    def summary(self):
        return {
            "messages": self.n, "lines": len(self.lines), "ships": self.ships,
            "type5": int((self.kind == KIND_INFO).sum()),
            "bad_checksum": int((self.kind == KIND_BAD).sum()),
            "filtered": int(self.filtered.sum()),
            "positions_expected": int(((self.kind == KIND_POS) & ~self.filtered).sum()),
        }

