"""Sinks (SURVEY §2.1) — the 100 TB-aware replacements for the reference's
CSV-détour + Snowflake stage pipeline.

The reference writes `coalesce(1)` single-file CSV then PUT/COPYs it into
Snowflake (`dags/etl_spark_historical.py:199-207,319-347`) — an anti-scale
choice called out in SURVEY §4. The engine's native path is date-partitioned
parquet: partition pruning makes every time-ranged query skip irrelevant
files, and writers parallelize per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .manifest import put_if_absent


def write_partitioned_by_date(
    df: DataFrame,
    path: str,
    ts_col: str,
    date_col: str = "p_date",
) -> None:
    """Lake-table write partitioned by event date — the engine's fact-table
    layout; replaces any table at ``path``. At 100 TB this yields ~1 partition/day/shuffle-task; combine with
    AQE coalescing to avoid small files."""
    (
        df.withColumn(date_col, F.to_date(ts_col))
        .write.mode("overwrite")
        .partitionBy(date_col)
        .parquet(path)
    )


def overwrite_date_partitions(
    df: DataFrame,
    path: str,
    ts_col: str,
    date_col: str = "p_date",
) -> None:
    """Incremental mart refresh (the reference lists 'incremental models' as
    future work — `README.md:375`): dynamic partition overwrite replaces
    ONLY the date partitions present in `df`, leaving every other partition
    untouched. This is how a daily transform reprocesses late-arriving days
    at 100 TB without rewriting the table. The mode is a per-write
    option, so the session conf (and any concurrent writer) is untouched."""
    (
        df.withColumn(date_col, F.to_date(ts_col))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(date_col)
        .parquet(path)
    )


def write_single_csv(df: DataFrame, path: str) -> None:
    """Reference-compat single-file CSV sink (S4,
    `dags/etl_spark_historical.py:199-207`). Kept only for parity/export of
    small results — scale path is :func:`write_partitioned_by_date`."""
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("header", "true")
        # quote-doubling escape, matching the stage file format the reference
        # COPYs with (S5: FIELD_OPTIONALLY_ENCLOSED_BY='"') and our reader
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )


def append(df: DataFrame, path: str) -> None:
    """Append-mode event sink (weather feed, S12)."""
    df.write.mode("append").parquet(path)


def compact(spark, path: str, target_files: int) -> int:
    """Small-files compaction: rewrite a table directory down to
    `target_files` files (hourly appends leave one tiny file per batch; at
    scale the metadata and open-cost of millions of small files dominates
    scan time). Uses the :func:`atomic_overwrite` stage/rename protocol, so
    readers never observe a missing or partial table and a mid-rewrite crash
    is recoverable. Returns the resulting file count."""
    df = spark.read.parquet(path).repartition(target_files)
    atomic_overwrite(df, path.rstrip("/"))
    return len(spark.read.parquet(path).inputFiles())


_STAGE_SUFFIX = ".__stage"
_GC_SUFFIX = ".__gc"
_LEASE_SUFFIX = ".__lease"


class LeaseHeldError(RuntimeError):
    """Another writer holds a live lease on the table path."""


class WriterLease:
    """Single-writer lease for a path-based table — the concurrency half of
    :func:`atomic_overwrite`'s transactionality (the reference gets both
    from a Snowflake transaction, `dags/etl_spark_historical.py:292,349-386`;
    a filesystem lake has to build them).

    Protocol (rename-atomic filesystems, same assumption as
    :func:`atomic_overwrite`):

    - acquire: the lease payload ``{token, owner, pid, expires_at}`` is
      published with :func:`.manifest.put_if_absent` (temp file, fsync,
      ``os.link``) — the link fails if the lease exists, so creation is
      atomic AND the file is complete the instant it is visible (a crash
      can never leave an empty/corrupt lease that wedges the table).  A loser
      whose rival's lease is still live raises :class:`LeaseHeldError`
      cleanly, having touched nothing.
    - stale takeover: a lease past ``expires_at`` (writer crashed mid-swap)
      is broken under a short-lived BREAKER lock (``.__lease.breaker``,
      same put-if-absent protocol): the breaker holder re-reads the lease,
      verifies it is STILL the same expired lease it first observed, and
      only then removes it.  Serializing takeovers closes the classic
      TOCTOU where two breakers both judge the lease stale and the slower
      one destroys the faster one's freshly-acquired LIVE lease.  An
      unparseable lease (should be impossible under put-if-absent; covers
      manual tampering) is treated as expired.
    - release: also under the breaker lock — re-read, unlink only if the
      file still carries OUR token (we may have been timed out and taken
      over while paused).  The breaker serialization means no takeover can
      interleave between the read and the unlink.

    TTL is a liveness/correctness trade: it must exceed the longest
    stage-write + rename window or a slow writer can be usurped mid-swap.
    At cluster scale prefer a heartbeat (re-write expires_at periodically)
    or a real table format (Delta/Iceberg optimistic commit) — interfaces
    here stay storage-agnostic so those can slot in.
    """

    def __init__(self, path: str, owner: str | None = None, ttl_seconds: float = 600.0):
        import os
        import uuid

        self.lock_path = path + _LEASE_SUFFIX
        self.owner = owner or f"pid-{os.getpid()}"
        self.ttl = float(ttl_seconds)
        self.token = uuid.uuid4().hex
        self._held = False

    _MISSING = object()  # file absent (vs present-but-unparseable → None)

    def _read(self, path: str | None = None):
        """Parsed lease dict, ``None`` if present-but-unparseable,
        ``_MISSING`` if absent."""
        import json

        try:
            with open(path or self.lock_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return self._MISSING
        except ValueError:
            return None

    def _payload(self) -> str:
        import json
        import os
        import time

        return json.dumps(
            {
                "token": self.token,
                "owner": self.owner,
                "pid": os.getpid(),
                "expires_at": time.time() + self.ttl,
            }
        )

    def _with_breaker(self, fn):
        """Run `fn` holding the takeover-serialization (breaker) lock.
        The breaker has its own short TTL so a crashed breaker can't wedge
        takeovers; it is itself removed by expiry-then-unlink (a benign
        unlink race: both racers observe expiry, the second unlink ENOENTs,
        and put-if-absent picks exactly one next breaker)."""
        import json
        import os
        import time
        import uuid

        breaker = self.lock_path + ".breaker"
        btoken = uuid.uuid4().hex
        deadline = time.time() + max(self.ttl, 30.0)
        while True:
            if put_if_absent(
                breaker,
                json.dumps(
                    {
                        "owner": self.owner,
                        "token": btoken,
                        "expires_at": time.time() + 30.0,
                    }
                ),
            ):
                break
            cur = self._read(breaker)
            if cur is self._MISSING:
                continue
            if cur is None or cur.get("expires_at", 0) <= time.time():
                try:
                    os.unlink(breaker)
                except FileNotFoundError:
                    pass
                continue
            if time.time() > deadline:
                raise LeaseHeldError(f"breaker lock wedged on {breaker}")
            time.sleep(0.01)
        try:
            return fn()
        finally:
            # unlink only if the breaker still carries OUR token AND is
            # unexpired: if fn (or the host) stalled past the 30s breaker
            # expiry, a rival may break and re-create it, and an
            # unconditional unlink would destroy the rival's LIVE breaker.
            # The token guard alone still leaves a read-then-unlink window
            # (rival replaces an expired breaker between our read and
            # unlink); requiring OUR breaker to be unexpired closes it —
            # rivals only ever remove EXPIRED breakers, so an unexpired
            # read (modulo the microseconds to the unlink vs the 30 s TTL)
            # cannot have been replaced. An expired breaker of ours is left
            # for the expiry path to reap.
            cur = self._read(breaker)
            if cur is not self._MISSING and cur is not None and (
                cur.get("token") == btoken
                and cur.get("expires_at", 0) > time.time()
            ):
                try:
                    os.unlink(breaker)
                except FileNotFoundError:
                    pass

    def acquire(self) -> "WriterLease":
        import os
        import time

        while True:
            if put_if_absent(self.lock_path, self._payload()):
                self._held = True
                return self
            first = self._read()
            if first is self._MISSING:
                time.sleep(0.005)  # holder released mid-look; retry
                continue
            # unparseable (None) is treated as expired — impossible under
            # put-if-absent, covers manual tampering
            if first is not None and first.get("expires_at", 0) > time.time():
                raise LeaseHeldError(
                    f"{self.lock_path} held by {first.get('owner')} "
                    f"until {first.get('expires_at')}"
                )

            def _break():
                cur = self._read()
                # only remove if STILL the exact expired lease we judged:
                # a rival takeover + fresh live lease must survive us
                if cur is not self._MISSING and (
                    cur is None
                    or (
                        cur.get("token") == (first or {}).get("token")
                        and cur.get("expires_at", 0) <= time.time()
                    )
                ):
                    try:
                        os.unlink(self.lock_path)
                    except FileNotFoundError:
                        pass

            self._with_breaker(_break)

    def release(self) -> None:
        import os

        if not self._held:
            return

        def _unlink_if_ours():
            cur = self._read()
            if cur is not self._MISSING and cur is not None and (
                cur.get("token") == self.token
            ):
                try:
                    os.unlink(self.lock_path)
                except FileNotFoundError:
                    pass

        self._with_breaker(_unlink_if_ours)
        self._held = False

    def renew(self) -> None:
        """Heartbeat: re-verify ownership and push ``expires_at`` out by a
        fresh TTL. Runs under the breaker lock so no stale-takeover can
        interleave between the ownership check and the rewrite. Raises
        :class:`LeaseHeldError` if the lease no longer carries our token
        (we stalled past TTL and were usurped) — the caller must NOT
        proceed with its commit."""
        import os
        import uuid

        def _renew():
            cur = self._read()
            if cur is self._MISSING or cur is None or cur.get("token") != self.token:
                self._held = False
                owner = None if cur in (None, self._MISSING) else cur.get("owner")
                raise LeaseHeldError(
                    f"{self.lock_path}: lease lost (now held by {owner!r})"
                )
            tmp = f"{self.lock_path}.renew.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                f.write(self._payload())
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, self.lock_path)  # atomic replace, still under breaker

        self._with_breaker(_renew)

    def __enter__(self) -> "WriterLease":
        return self.acquire()

    def __exit__(self, *exc) -> None:
        self.release()


def atomic_overwrite(
    df: DataFrame,
    path: str,
    lease_ttl: float | None = 600.0,
) -> None:
    """Transactional table replace for a path-based parquet table — the
    engine's stand-in for the atomicity of the reference's Snowflake
    ``MERGE INTO`` (`dags/etl_spark_historical.py:349-380`).

    Protocol (rename-atomic filesystems: POSIX, HDFS):

    1. write the complete new image to ``<path>.__stage`` — a crash here
       leaves the live table untouched;
    2. rename live → ``<path>.__gc``  (atomic);
    3. rename stage → live           (atomic);
    4. drop the old image.

    Readers observe either the old or the new complete table, never a
    partial write. A crash between 2 and 3 leaves no live directory but
    both images intact — :func:`recover_atomic_overwrite` repairs it.
    Because the new image is written while the old files still exist, the
    input DataFrame MAY read from ``path`` itself (read-merge-overwrite),
    which a plain ``mode("overwrite")`` to the same path cannot do.
    Object stores without atomic rename need a manifest/table format
    (Delta/Iceberg) — these operator interfaces stay storage-agnostic so
    that can slot in.

    Concurrency: the whole protocol runs under a :class:`WriterLease`
    (``lease_ttl`` seconds; ``None`` disables for single-writer callers).
    A concurrent writer raises :class:`LeaseHeldError` before writing
    anything, so racing jobs can never interleave their renames and
    last-rename-wins data loss cannot occur. A writer that dies holding
    the lease leaves a stale file the next writer takes over after TTL.
    A heartbeat thread renews the lease every TTL/3 during the stage
    write, and ownership is re-verified (with a fresh TTL) immediately
    before the rename swap — a stage write that outlasts the original TTL
    therefore either keeps the lease alive or aborts with
    :class:`LeaseHeldError` BEFORE touching the live table, instead of
    silently interleaving renames with the usurper.
    """
    import os
    import shutil
    import threading

    lease = (
        WriterLease(path, ttl_seconds=lease_ttl).acquire()
        if lease_ttl is not None
        else None
    )
    try:
        stage, gc = path + _STAGE_SUFFIX, path + _GC_SUFFIX
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(gc, ignore_errors=True)
        hb_stop, hb_lost, hb = threading.Event(), [], None
        if lease is not None:

            def _beat():
                while not hb_stop.wait(lease.ttl / 3.0):
                    try:
                        lease.renew()
                    except LeaseHeldError as e:
                        hb_lost.append(e)
                        return

            hb = threading.Thread(target=_beat, daemon=True)
            hb.start()
        try:
            df.write.mode("overwrite").parquet(stage)
        except Exception:
            # don't touch the stage dir if the lease was usurped — the new
            # holder may already be writing its own image there
            if not hb_lost:
                shutil.rmtree(stage, ignore_errors=True)
            raise
        finally:
            hb_stop.set()
            if hb is not None:
                hb.join(timeout=5.0)
        if lease is not None:
            if hb_lost:
                raise hb_lost[0]
            lease.renew()  # re-verify ownership; fresh TTL covers the renames
        if not os.path.exists(os.path.join(stage, "_SUCCESS")):
            shutil.rmtree(stage, ignore_errors=True)
            raise RuntimeError(f"stage write of {path} finished without _SUCCESS")
        if os.path.exists(path):
            os.rename(path, gc)
        os.rename(stage, path)
        shutil.rmtree(gc, ignore_errors=True)
    finally:
        if lease is not None:
            lease.release()


def recover_atomic_overwrite(path: str, lease_ttl: float | None = 600.0) -> str:
    """Repair an interrupted :func:`atomic_overwrite`. Returns the action
    taken: ``'promoted-stage'`` (crash after the live table was moved aside
    and the stage image is complete), ``'restored-old'`` (stage incomplete),
    or ``'noop'`` (live table present).

    Recovery takes the same :class:`WriterLease` as the writer (a crashed
    writer's stale lease falls to TTL takeover): repairing while a LIVE
    writer is mid-swap would wrongly judge its in-flight stage/gc images.
    A live lease therefore raises :class:`LeaseHeldError` — retry after the
    writer finishes or its lease expires."""
    import os
    import shutil

    lease = (
        WriterLease(path, owner="recovery", ttl_seconds=lease_ttl).acquire()
        if lease_ttl is not None
        else None
    )
    try:
        stage, gc = path + _STAGE_SUFFIX, path + _GC_SUFFIX
        if os.path.exists(path):
            shutil.rmtree(stage, ignore_errors=True)
            shutil.rmtree(gc, ignore_errors=True)
            return "noop"
        if os.path.exists(os.path.join(stage, "_SUCCESS")):
            os.rename(stage, path)
            shutil.rmtree(gc, ignore_errors=True)
            return "promoted-stage"
        if os.path.exists(gc):
            os.rename(gc, path)
            shutil.rmtree(stage, ignore_errors=True)
            return "restored-old"
        raise FileNotFoundError(f"no live, stage, or gc image for {path}")
    finally:
        if lease is not None:
            lease.release()


def read_with_schema_evolution(spark, path: str) -> DataFrame:
    """Union-schema read across files written at different schema versions
    (`mergeSchema`): late-added columns surface as NULL for old files —
    the append-only lake's answer to ALTER TABLE ADD COLUMN."""
    return spark.read.option("mergeSchema", "true").parquet(path)
