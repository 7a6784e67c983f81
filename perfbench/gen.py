"""Seeded load generator for the lifecycle benchmark.

Emits cumulative counters for every dispatch path of the benchmark's
datasource mix, as plain Python rows in the engine's landing schemas:

- ``databases``: the (oid, datname) feed, with one database that is
  dropped from the feed after the first tick;
- ``statements``: staging rows with query text;
- ``kcache``: staging rows for half of the statements;
- ``qualstats``: ``SRC_SCHEMA`` rows with quals and constvalues, two plan
  nodes per qual, plus one row whose statement is unknown (gated out);
- ``wait_sampling``: staging rows with a dbid (remote path) or raw
  samples without one, split across two backends (local path);
- ``pg_stat_database`` (keyed module), ``pg_stat_bgwriter`` (keyless
  module) and ``all_tables`` (db_module, scoped by dbnames).

One entity per datasource restarts its counters every ``RESET_EVERY``
ticks, so the reset clamp of the read path runs, and one more reports
only every ``SPARSE_EVERY``-th tick, so its packed rows end earlier than
the others' and a purge cutoff can fall between them.  The same seed gives the
same rows; :func:`digest` hashes a whole tick range for the tests.

Nothing here imports Spark: the engine receives only these rows.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import random

UTC = dt.timezone.utc
#: simulated clock origin of every workload
EPOCH = dt.datetime(2026, 3, 2, 0, 0, tzinfo=UTC)

#: dispatch order of the mix (``databases`` runs first, outside the specs)
MIX = (
    "statements", "kcache", "qualstats", "wait_sampling",
    "pg_stat_database", "pg_stat_bgwriter", "all_tables",
)

WAIT_EVENTS = (("LWLock", "WALWrite"), ("IO", "DataFileRead"),
               ("Lock", "transactionid"))


# entity counts per server
N_DB = 3            # live databases (one more is dropped)
N_QUERIES = 12
N_RELS = 3          # tables per database
N_QUALS = 4
RESET_EVERY = 5     # ticks between counter resets of entity 0
SPARSE_EVERY = 3    # entity 1 reports only on these ticks
SCOPED_DBS = 2      # all_tables is scoped to the first N databases


def _value(base: int, rate: int, i: int, resets: bool) -> int:
    if resets:
        return rate * (i % RESET_EVERY + 1)
    return base + rate * i


def _cast(v: int, kind: str):
    """Counter value in the Python type of its Spark column."""
    if kind == "long":
        return v
    if kind == "int":
        return v % 1000
    if kind == "double":
        return v / 4.0   # binary fraction: sums are exact in any order
    if kind == "decimal":
        return decimal.Decimal(v)
    return None          # timestamps, text, booleans: not counters here


class ServerGen:
    """Entities and counter streams of one monitored server."""

    def __init__(self, seed: int, srvid: int):
        self.srvid = srvid
        # entities depend on the server only, so live ticks continue
        # the history's statements, databases and tables
        rng = random.Random(f"perfbench/entities/{srvid}")
        self.db_oids = [16384 + 7 * k for k in range(N_DB + 1)]
        self.db_names = {o: f"db{k}" for k, o in enumerate(self.db_oids)}
        live = self.db_oids[:-1]
        self.queries = []
        for q in range(N_QUERIES):
            qid = rng.randrange(1, 2**31)
            self.queries.append((qid, live[q % len(live)],
                                 10 if q % 3 else 16390, q))
        self.rels = [(db, 24576 + 11 * r + k)
                     for k, db in enumerate(live) for r in range(N_RELS)]
        self.quals = [(900000 + 13 * k, self.queries[k % len(self.queries)])
                      for k in range(N_QUALS)]
        self._seed = seed
        self._rates: dict = {}

    def rate(self, ds: str, ent: int, col: int) -> tuple[int, int]:
        """(base, increment per tick) of one counter, drawn from its own
        stream so that no draw depends on the order of earlier calls."""
        key = (ds, ent, col)
        r = self._rates.get(key)
        if r is None:
            rng = random.Random(f"perfbench/{self._seed}/{self.srvid}/{key}")
            r = (rng.randrange(0, 10**6), rng.randrange(1, 500))
            self._rates[key] = r
        return r

    def counters(self, ds: str, ent: int, kinds: list[str], i: int) -> list:
        resets = ent == 0
        return [
            _cast(_value(*self.rate(ds, ent, c), i, resets), k)
            for c, k in enumerate(kinds)
        ]


def _kind(dtype) -> str:
    name = type(dtype).__name__
    return {"LongType": "long", "IntegerType": "int", "DoubleType": "double",
            "DecimalType": "decimal"}.get(name, "other")


class FleetGen:
    """Rows of every datasource for ``srvids`` at tick ``i``.

    ``step`` is the simulated time between ticks.  Entity sets are drawn
    per srvid and counter rates per (seed, srvid, counter), so the rows
    of a tick do not depend on which ticks were generated before it."""

    def __init__(self, seed: int, srvids, step: dt.timedelta):
        from powa_archivist_spark.operators.qualstats import SRC_SCHEMA
        from powa_archivist_spark.specs import get_spec

        self.seed = seed
        self.step = step
        self.servers = {s: ServerGen(seed, s) for s in srvids}
        self.specs = {ds: get_spec(ds) for ds in MIX}
        self.kinds = {
            ds: [_kind(c.spark_type) for c in spec.counters]
            for ds, spec in self.specs.items()
        }
        self.qual_kinds = [_kind(f.dataType) for f in SRC_SCHEMA.fields[6:11]]

    def ts(self, i: int) -> dt.datetime:
        return EPOCH + i * self.step

    # ---- the databases dimension --------------------------------------

    def databases(self, srvid: int, i: int) -> list[tuple]:
        g = self.servers[srvid]
        oids = g.db_oids if i < 1 else g.db_oids[:-1]
        return [(o, g.db_names[o]) for o in oids]

    # ---- staging rows, one list per datasource --------------------------

    def staging(self, ds: str, srvid: int, i: int) -> list[tuple]:
        rows = getattr(self, f"_{ds}")(self.servers[srvid], i)
        if i % SPARSE_EVERY == 0 or ds == "pg_stat_bgwriter":
            return rows
        # entity 1 is sparse; qualstats rows come two per entity
        per = 2 if ds == "qualstats" else 1
        return rows[:per] + rows[2 * per:]

    def _statements(self, g: ServerGen, i: int) -> list[tuple]:
        t, k = self.ts(i), self.kinds["statements"]
        return [
            (g.srvid, t, qid, db, True, uid,
             *g.counters("statements", e, k, i),
             f"SELECT * FROM t{n} WHERE id = $1")
            for e, (qid, db, uid, n) in enumerate(g.queries)
        ]

    def _kcache(self, g: ServerGen, i: int) -> list[tuple]:
        t, k = self.ts(i), self.kinds["kcache"]
        return [
            (g.srvid, t, qid, True, uid, db, *g.counters("kcache", e, k, i))
            for e, (qid, db, uid, _n) in enumerate(g.queries[::2])
        ]

    def _qualstats(self, g: ServerGen, i: int) -> list[tuple]:
        t = self.ts(i)
        rows = []
        quals = list(g.quals) + [(999999, (7, g.db_oids[0], 10, -1))]
        for e, (qualnodeid, (qid, db, uid, _n)) in enumerate(quals):
            for node in range(2):   # two plan nodes roll up into one qual
                c = g.counters("qualstats", 2 * e + node, self.qual_kinds, i)
                rows.append((
                    g.srvid, t, qualnodeid * 10 + node, db, uid, qualnodeid,
                    *c, qid,
                    [f"'{(i + e) % 5}'", f"'{node}'"],
                    [(24576 + e, 1 + node, 96, "f")],
                ))
        return rows

    def _wait_sampling(self, g: ServerGen, i: int) -> list[tuple]:
        """Staging rows (remote path): dbid resolved by the collector."""
        t, k = self.ts(i), self.kinds["wait_sampling"]
        rows = []
        for e, (qid, db, et, ev) in enumerate(self._wait_keys(g)):
            rows.append((g.srvid, t, db, et, ev, qid,
                         *g.counters("wait_sampling", e, k, i)))
        return rows

    def _wait_keys(self, g: ServerGen) -> list[tuple]:
        keys = [(qid, db, *WAIT_EVENTS[e % len(WAIT_EVENTS)])
                for e, (qid, db, _u, _n) in enumerate(g.queries[:4])]
        # a sample of an unknown statement resolves to dbid 0
        keys.append((0, 0, *WAIT_EVENTS[0]))
        return keys

    def raw_wait_samples(self, srvid: int, i: int) -> list[tuple]:
        """Local path: (ts, event_type, event, queryid, count) without a
        dbid, each key split across two backends whose counts add up to
        the staging row's count."""
        out = []
        for (_s, t, _db, et, ev, qid, cnt) in self.staging(
                "wait_sampling", srvid, i):
            part = cnt // 3
            out.append((t, et, ev, qid, part))
            out.append((t, et, ev, qid, cnt - part))
        return out

    def _pg_stat_database(self, g: ServerGen, i: int) -> list[tuple]:
        t, k = self.ts(i), self.kinds["pg_stat_database"]
        return [(g.srvid, t, db, *g.counters("pg_stat_database", e, k, i))
                for e, db in enumerate(g.db_oids[:-1])]

    def _pg_stat_bgwriter(self, g: ServerGen, i: int) -> list[tuple]:
        k = self.kinds["pg_stat_bgwriter"]
        return [(g.srvid, self.ts(i), *g.counters("pg_stat_bgwriter", 0, k, i))]

    def _all_tables(self, g: ServerGen, i: int) -> list[tuple]:
        t, k = self.ts(i), self.kinds["all_tables"]
        return [(g.srvid, t, db, rel, *g.counters("all_tables", e, k, i))
                for e, (db, rel) in enumerate(g.rels)]

    def scoped_dbnames(self, srvid: int) -> list[str]:
        g = self.servers[srvid]
        return [g.db_names[o] for o in g.db_oids[:SCOPED_DBS]]


def digest(gen: FleetGen, ticks) -> str:
    """sha256 over every row the generator emits for ``ticks``."""
    h = hashlib.sha256()
    for i in ticks:
        for s in sorted(gen.servers):
            h.update(repr(gen.databases(s, i)).encode())
            h.update(repr(gen.raw_wait_samples(s, i)).encode())
            for ds in MIX:
                h.update(repr(gen.staging(ds, s, i)).encode())
    return h.hexdigest()
