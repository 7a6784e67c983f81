"""Ledger-fold runner — the one replay protocol every streaming sink in
this package runs through, the way the reference drives every
datasource function through one snapshot protocol (one error trap,
ordered dispatch, one metas ledger — powa--5.2.0.sql:3509-3547).

Three pieces live here, and no other module under ``streaming/``
re-implements them.

:func:`fold` — one micro-batch, exactly once at rest:

1. the batch is re-homed onto the engine session (``adopt``);
2. ``StagedPass.recover`` completes any pass that committed its manifest
   but died before folding it.  Its healed count goes to the optional
   driver-side ``state`` mirror (``state.begin(healed)``): rows that
   landed without this process's fold make a cached view stale;
3. ``StagedPass.sweep_stages`` reclaims, under the fold's ``tables``
   only, the stage dirs of passes that died before their commit point
   (invisible to readers either way).  Other writers share the global
   lane, so a fold sweeps no table it does not write;
4. the replay probe: ``key = (table, member)`` — an int epoch, or a
   tuple such as ``(epoch, stream_gen)`` — is looked up in an in-process
   memo of landed keys.  A cold memo entry seeds ONCE from the table
   (one distinct read of the key columns: ``key_frame(wh)``, else the
   table's ``epoch`` column); every later probe is a dict lookup, so a
   replayed epoch launches no Spark job at all.  ``key=None`` means no
   epoch key: batch-mode callers own their retry semantics, and the
   dedup sinks' anti-join against their own ledger already turns a
   replay into a no-op;
5. ``build(wh, batch, sp)`` returns the writes as ``{table: write}``:
   a frame appends, :func:`replace` swaps the table's content, and any
   other ``(sp, table)`` callable stages a custom op (the bucketed
   digest ledger).  ``None`` means there is nothing to land.  A build
   that must write one frame before deciding the rest (an Observation
   that gates a ledger append) stages it on ``sp`` itself;
6. the writes stage concurrently — distinct tables by construction —
   and commit through ONE manifest rename (``publish``): readers see
   every sink of the batch or none of them;
7. only then does the key register as landed and ``state.commit()``
   fold the pass's pending deltas into the driver-side mirror, so a
   pass that fails leaves memo and mirror exactly as far as the tables.

The memo rests on one writer loop per warehouse (a stream's serialized
``foreachBatch``).  A restart begins cold and seeds from disk; recovery
or a reader's ``heal_table`` that applies a committed manifest calls
:func:`invalidate`, so epochs landed without their fold's registration
re-seed from the table.  One deliberate gap between memo and table: a
k-means refresh over an EMPTY batch publishes no vectors row yet
registers its epoch, so a same-process replay skips a deterministic
refresh that already published.

:func:`compact_ledger` — fold every epoch of an append ledger into one
tagged with max(epoch), swapped through one manifest.

:func:`stream_fold` — the Structured Streaming loop: landing parquet
(at most :data:`MAX_FILES_PER_TRIGGER` files per micro-batch) ->
``foreachBatch`` behind committed-epoch markers -> ``availableNow``, so
the query ends once the landing drains.  Every sink gets the
checkpoint's persisted generation id for its replay key: epoch ids
restart at 0 whenever a stream gets a fresh checkpoint.
"""

from __future__ import annotations

import os
import uuid
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import adopt
from ..txn import GLOBAL_LANE, StagedPass

#: parquet files per micro-batch for every :func:`stream_fold` sink
MAX_FILES_PER_TRIGGER = 16

#: (warehouse root, table) -> landed epoch keys (ints, or tuples for
#: composite (epoch, stream_gen) keys)
_SEEN: dict[tuple[str, str], set] = {}


def _replayed(wh, table: str, member,
              key_frame: Callable[..., DataFrame] | None) -> bool:
    seen = _SEEN.get((wh.root, table))
    if seen is None:
        seen = set()
        if wh.exists(table):
            df = (key_frame(wh) if key_frame is not None
                  else wh.read(table).select("epoch"))
            seen = {r[0] if len(r) == 1 else tuple(r)
                    for r in df.distinct().collect()}
        _SEEN[(wh.root, table)] = seen
    return member in seen


def invalidate(root: str) -> None:
    """Drop every memo entry under ``root`` — called by the txn layer
    whenever recovery or a reader's ``heal_table`` applies a committed
    manifest (those epochs landed without their fold's registration)."""
    for key in [k for k in _SEEN if k[0] == root]:
        del _SEEN[key]


def replace(frame: DataFrame):
    """A :func:`fold` write that swaps the table's whole content."""
    return lambda sp, table: sp.stage_replace_tree(frame, table)


def _stage(sp: StagedPass, table: str, write):
    if callable(write):
        return lambda: write(sp, table)
    return lambda: sp.stage_append_tree(write, table)


def fold(wh, batch: DataFrame, *, tables, key, build,
         key_frame: Callable[..., DataFrame] | None = None,
         state=None) -> bool:
    """Run one micro-batch through the ledger protocol (module
    docstring); True when the pass published, False on a replayed key
    or a build with nothing to land.  ``tables`` are the flat tables
    the fold writes; ``state`` is an optional driver-side mirror with
    ``begin(healed)`` and ``commit()``."""
    wh = wh.engine()
    batch = adopt(wh.spark, batch)
    healed = StagedPass.recover(wh, GLOBAL_LANE)
    if state is not None:
        state.begin(healed)
    StagedPass.sweep_stages(*map(wh.path, tables))
    if key is not None and _replayed(wh, *key, key_frame):
        return False
    sp = StagedPass(wh, GLOBAL_LANE)
    writes = build(wh, batch, sp)
    if writes is None:
        return False
    sp.stage_concurrently(*(_stage(sp, t, w) for t, w in writes.items()))
    sp.publish()
    if key is not None:
        _SEEN.setdefault((wh.root, key[0]), set()).add(key[1])
    if state is not None:
        state.commit()
    return True


def compact_ledger(wh, table: str,
                   merge: Callable[[DataFrame], DataFrame]) -> None:
    """Fold all at-rest epochs of ``table`` into one (epoch = max seen):
    ``merge(rows)`` combines the epochs' rows, and the swap commits
    through one manifest.  A missing or empty ledger is a no-op."""
    wh = wh.engine()
    StagedPass.recover(wh, GLOBAL_LANE)
    if not wh.exists(table):
        return
    rows = wh.read(table)
    top = rows.agg(F.max("epoch").alias("e")).collect()[0].e
    if top is None:
        # empty ledger: staging a replace would cast a None epoch
        return
    merged = merge(rows).withColumn("epoch", F.lit(int(top)).cast("long"))
    sp = StagedPass(wh, GLOBAL_LANE)
    # eager checkpoint: the replace reads the table it swaps
    sp.stage_replace_tree(
        merged.select(*rows.columns).localCheckpoint(), table
    )
    sp.publish()


def _stream_generation(checkpoint_dir: str) -> str:
    """The checkpoint's generation id (a uuid written once into it):
    replay keys carry it, or a FRESH checkpoint restarting epochs at 0
    would match — and silently skip — a previous run's epoch 0."""
    p = os.path.join(checkpoint_dir, "stream_gen.id")
    if not os.path.exists(p):
        os.makedirs(checkpoint_dir, exist_ok=True)
        tmp = p + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            f.write(uuid.uuid4().hex)
        os.replace(tmp, p)
    with open(p) as f:
        return f.read().strip()


def with_epoch_marker(marker_dir: str, epoch_id: int, apply_fn) -> None:
    """Committed-epoch marker protocol: skip if the epoch's marker
    exists, otherwise apply, then commit the marker atomically (tmp +
    rename)."""
    marker = os.path.join(marker_dir, f"epoch-{epoch_id}.done")
    if os.path.exists(marker):
        return
    apply_fn()
    os.makedirs(marker_dir, exist_ok=True)
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        f.write("committed")
    os.replace(tmp, marker)


def stream_fold(spark, landing_glob: str, schema, checkpoint_dir: str,
                apply: Callable[[DataFrame, int, str], object]):
    """Start the streaming loop over ``landing_glob``: each micro-batch
    runs ``apply(batch, epoch_id, stream_gen)`` behind the epoch marker.
    Returns the StreamingQuery; ``availableNow`` ends it once the
    landing drains."""
    marker_dir = os.path.join(checkpoint_dir, "epoch_markers")
    gen = _stream_generation(checkpoint_dir)

    def process(batch: DataFrame, epoch_id: int) -> None:
        with_epoch_marker(marker_dir, epoch_id,
                          lambda: apply(batch, epoch_id, gen))

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(landing_glob)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
