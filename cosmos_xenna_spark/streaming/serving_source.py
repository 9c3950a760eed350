"""Push-based serving source: reference A2 true parity.

The reference's SERVING mode polls a ``multiprocessing.Queue`` each
driver tick (reference ``cosmos_xenna/pipelines/private/
specs.py:511-518``, poll loop ``streaming.py:992-1004``). Spark 4's
Python DataSource API makes the same architecture expressible
natively: a ``multiprocessing.managers`` queue server owns named
queues in the user's process; the streaming reader (which Spark runs
in a separate Python worker process) connects by address once and
pays one manager call per micro-batch: a per-queue drainer runs the
get loop inside the manager process and returns the whole batch in
one reply, so the fixed cost of a read does not grow with its rows.

Usage::

    server = ServingQueueServer()          # once, user process
    q = server.queue("requests")           # push side (proxy)
    spark.dataSource.register(QueueServingDataSource)
    stream = (spark.readStream.format("cxs_serving")
              .schema("id long, payload string")
              .options(**server.options("requests"))
              .load())
    ... stages ...
    handle = serve(out, sink_fn)           # foreachBatch push-out
    q.put((1, "hello"))                    # clients push rows
    # reference 'None' sentinel: the client pushes None; poll
    # server.sentinel_seen("requests") and stop the query.

The reader keeps only (host, port, keyfile-path, name) strings —
picklable by construction; the connection and the drainer proxy are
opened lazily inside the worker, once per reader. The authkey is
generated per-server (os.urandom) and written to a mode-0600 key file
whose PATH (never the key itself) travels through options(): reader
options are embedded in the logical plan and surface in ``explain()``,
the Spark UI and event logs, so a literal key in options would leak to
anything that can read plans. Co-tenant processes can see the path but
not read the file.
"""

from __future__ import annotations

import os
import queue as _q
import tempfile
from multiprocessing.managers import BaseManager

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader


class _QueueManager(BaseManager):
    pass


_SERVER_QUEUES: dict[str, _q.Queue] = {}
_SERVER_FLAGS: dict[str, bool] = {}


def _get_queue(name: str):
    return _SERVER_QUEUES.setdefault(name, _q.Queue())


def _get_flag(name: str) -> bool:
    return _SERVER_FLAGS.get(name, False)


class _Drainer:
    """Server-side reader of one named queue. ``drain`` runs in the
    manager process, so the streaming reader pays one round trip per
    micro-batch, whatever its row count."""

    def __init__(self, name: str):
        self.name = name
        self.queue = _get_queue(name)

    def drain(self, max_rows: int) -> list[tuple]:
        rows: list[tuple] = []
        while len(rows) < max_rows:
            try:
                item = self.queue.get_nowait()
            except _q.Empty:
                break
            if item is None:  # reference termination sentinel
                _SERVER_FLAGS[self.name] = True
                break
            if isinstance(item, list):
                # chunked push: one client put delivers many rows, so
                # the push side pays one manager call per chunk, as the
                # reader pays one per micro-batch. A chunk may overshoot
                # max_rows; the cap is a batch-size hint, not a hard
                # limit.
                rows.extend(tuple(r) for r in item)
            else:
                rows.append(tuple(item))
        return rows


_QueueManager.register("get_queue", callable=_get_queue)
_QueueManager.register("get_flag", callable=_get_flag)
_QueueManager.register("get_drainer", callable=_Drainer, exposed=("drain",))


class ServingQueueServer:
    """Owns the named serving queues; runs a manager process clients
    (including Spark's reader worker) connect to by address."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        # Random per-server authkey: a constant would let any local
        # process that reads the public source inject into / drain the
        # serving stream. Only the key FILE's path travels via
        # options() (plans/UI/event logs would expose a literal key).
        self.authkey = os.urandom(32)
        fd, self.authkey_path = tempfile.mkstemp(prefix="cxs_serving_key_")
        try:
            os.fchmod(fd, 0o600)
            os.write(fd, self.authkey.hex().encode())
        finally:
            os.close(fd)
        self._mgr = _QueueManager(address=(host, port), authkey=self.authkey)
        self._mgr.start()
        self.host, self.port = self._mgr.address

    def queue(self, name: str):
        """Push-side proxy for a named queue."""
        return self._mgr.get_queue(name)

    def sentinel_seen(self, name: str) -> bool:
        """True once the reader consumed a ``None`` push (reference
        termination signal) — poll this and stop the query."""
        return bool(self._mgr.get_flag(name)._getvalue())

    def options(self, name: str) -> dict[str, str]:
        return {
            "host": self.host,
            "port": str(self.port),
            "name": name,
            "authkey_file": self.authkey_path,
        }

    def shutdown(self) -> None:
        self._mgr.shutdown()
        try:
            os.unlink(self.authkey_path)
        except FileNotFoundError:
            pass


class _ServingReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.host = options.get("host", "127.0.0.1")
        self.port = int(options["port"])
        self.qname = options.get("name", "default")
        # Key arrives as a 0600-file path, never a literal in options
        # (options are visible in plans / Spark UI / event logs).
        with open(options["authkey_file"]) as f:
            self.authkey = bytes.fromhex(f.read().strip())
        self.max_rows = int(options.get("maxrowsperbatch", "10000"))
        self._drainer = None

    def initialOffset(self) -> dict:
        return {"n": 0}

    def read(self, start: dict):
        if self._drainer is None:
            mgr = _QueueManager(address=(self.host, self.port), authkey=self.authkey)
            mgr.connect()
            self._drainer = mgr.get_drainer(self.qname)
        rows = self._drainer.drain(self.max_rows)
        return iter(rows), {"n": start["n"] + len(rows)}


class QueueServingDataSource(DataSource):
    """``spark.readStream.format("cxs_serving")`` — schema comes from
    the caller's ``.schema(...)`` (schema-first engine rule)."""

    @classmethod
    def name(cls) -> str:
        return "cxs_serving"

    def schema(self) -> str:
        raise NotImplementedError(
            "cxs_serving requires an explicit .schema(...) on the reader"
        )

    def simpleStreamReader(self, schema):
        return _ServingReader(dict(self.options))
