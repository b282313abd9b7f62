"""`dd_read_arrow` — Arrow-IPC-over-HTTP scans of a dazzleduck fleet.

The builders (``dd_read_arrow``, ``dd_read_arrow_narrow``,
``dd_read_arrow_agg``) run on the JVM DSv2 shim
(``scala/DdArrowShim.scala``, format ``dd_arrow_dsv2``): schema probe,
split planning and scan all happen inside Spark's JVM, like the
reference's table function runs inside its host engine
(src/scanner/read_arrow_dd.cpp:880-898). No Python
planner or worker process is involved in a remote scan.

==============================  =========================================
Reference mechanism             This implementation (JVM shim)
==============================  =========================================
Bind() full-fetch for schema    ``inferSchema`` probes with ``LIMIT 0``
  (read_arrow_dd.cpp:299-391,     and reads only the Arrow schema message
  buffers whole body)             (the reference's full fetch is a
                                  documented inefficiency, SURVEY §3.1)
projection pushdown             ``pruneColumns``: the remote SELECT
  (:246-262, :296)                lists only the columns Catalyst needs
filter pushdown -> SQL WHERE    ``pushFilters`` serializes supported
  (FilterToSQL :198-238;          filters to a WHERE clause and returns
  unsupported stay local :234)    the rest to Spark — the same partial-
                                  pushdown contract
aggregation pushdown            ``pushAggregation``: complete pushdown
  (aggregation_pushdown.cpp:      without splits, per-split partials with
  247-418, IsSplitSafe            them; ``dd_read_arrow_agg`` passes its
  :190-199)                       explicit template as the ``agg_*``
                                  options
split plan fetch + atomic       ``planInputPartitions`` returns one
  work-stealing threads           partition per split; Spark's task
  (:158-190, :84-92)              scheduler replaces the claim counter
per-split HTTP fetch, whole     the columnar reader streams Arrow
  body buffered in memory         batches off the socket (bounded memory)
  (http_stream_factory.cpp:20)
retry / replica failover        probe and plan retry 5xx and connection
  (httpfs defaults; split         failures on the same URL; a data read
  endpoints[])                    tries untried replicas first, then backs
                                  off, with a fresh query id per attempt;
                                  4xx is never retried
cancel monitor thread firing    task teardown closes the connection (the
  GET /v1/cancel (:103-157)       lease) and fires GET /v1/cancel; a JVM
                                  shutdown hook sweeps in-flight queries
==============================  =========================================

``ArrowHttpDataSource`` (format ``dd_read_arrow``) is the same scan as a
Spark Python DataSource. The builders no longer use it; it stays as the
reference implementation that ``tests/test_arrow_source.py``'s fault
matrix runs side by side with the shim. It needs
``spark.sql.python.filterPushdown.enabled=true``.

Usage::

    register(spark)        # loads the shim jar, registers dd_read_arrow
    df = dd_read_arrow(spark, "http://host:8080",
                       source_table="lineitem", split=True,
                       auth_token=token)     # from functions.misc.login
"""

from __future__ import annotations

import atexit
import json
import os
import random
import re
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)
from pyspark.sql.types import StructType

ARROW_MIME = "application/vnd.apache.arrow.stream"
HTTP_TIMEOUT_S = 30


def _new_query_id() -> int:
    """Random positive int63 (read_arrow_dd.cpp:347-351 uses random int64)."""
    return random.randrange(1, 2**62)


def _headers(token: str | None) -> dict[str, str]:
    h = {"Accept": ARROW_MIME}
    if token:
        h["Authorization"] = f"Bearer {token}"
    return h


def _query_url(base: str, sql: str, query_id: int) -> str:
    q = urllib.parse.quote_plus(sql)
    return f"{base.rstrip('/')}/v1/query?q={q}&id={query_id}"


HTTP_RETRIES = 3
HTTP_BACKOFF_S = 0.2


class TransientHTTPError(RuntimeError):
    """5xx / connection failure — safe to retry the open."""


_EOS_MARKER = b"\xff\xff\xff\xff\x00\x00\x00\x00"


class _EosTrackingStream:
    """File-like wrapper recording the trailing 8 bytes of the body.

    Arrow's IPC stream readers (pyarrow and arrow-java alike) treat a
    BARE EOF at a message boundary as a normal end of stream, so an
    HTTP response truncated between batches decodes as a silently
    SHORT result — which a split-mode aggregate merge then under-sums
    with no error anywhere. Every well-formed stream ends with the
    explicit EOS marker (continuation 0xFFFFFFFF + length 0); the read
    loop checks `saw_eos_marker` after exhaustion and raises on a
    truncated stream so Spark's task retry re-runs the split."""

    def __init__(self, raw):
        self._raw = raw
        self._tail = b""
        self.bytes_seen = 0

    def _record(self, data) -> None:
        self.bytes_seen += len(data)
        d = bytes(data)
        self._tail = d[-8:] if len(d) >= 8 else (self._tail + d)[-8:]

    def read(self, n=-1):
        data = self._raw.read(n)
        if data:
            self._record(data)
        return data

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return False

    @property
    def closed(self) -> bool:
        # pyarrow's PythonFile wrapper requires this attribute
        return bool(getattr(self._raw, "closed", False))

    def close(self) -> None:
        self._raw.close()

    @property
    def saw_eos_marker(self) -> bool:
        return self._tail == _EOS_MARKER


def _open_stream(
    url: str,
    token: str | None,
    extra: dict | None = None,
    retries: int = HTTP_RETRIES,
):
    """Open the HTTP stream with bounded retry on transient failures.

    The reference inherits httpfs's retry defaults (3 attempts with
    backoff) for every fetch because it buffers whole bodies; we stream,
    so only the OPEN retries here — a connection dying mid-stream
    surfaces to Spark, whose task retry is the correct distributed
    retry unit (the replacement task re-runs the whole split). 4xx is a
    client error and never retried (the reference's InvalidInput vs
    IOException distinction, arrow_http_client.cpp:82-89). /v1/query
    opens pass retries=1 and retry in read() with a FRESH query id per
    attempt (re-issuing one id could double-execute server-side with no
    way to cancel the orphan); /v1/plan and schema probes are idempotent
    and retry the same URL here."""
    import time

    req = urllib.request.Request(url, headers={**_headers(token), **(extra or {})})
    last: Exception | None = None
    for attempt in range(retries):
        try:
            return urllib.request.urlopen(req, timeout=HTTP_TIMEOUT_S)
        except urllib.error.HTTPError as e:
            if e.code < 500:
                raise RuntimeError(
                    f"dd_read_arrow: HTTP {e.code} from server:"
                    f" {e.read()[:200]!r}"
                ) from e
            last = TransientHTTPError(
                f"dd_read_arrow: HTTP {e.code} from server:"
                f" {e.read()[:200]!r}"
            )
        except urllib.error.URLError as e:
            last = TransientHTTPError(f"dd_read_arrow: connection failed: {e}")
        if attempt < retries - 1:
            time.sleep(HTTP_BACKOFF_S * (2**attempt))
    raise last


def _fetch_plan(
    base: str, sql: str, split_size: int | None, token: str | None
) -> list[dict]:
    """GET /v1/plan — split planning (arrow_http_client.cpp:108-167 wire
    behavior: q param + x-dd-split-size header; JSON list of splits)."""
    url = f"{base.rstrip('/')}/v1/plan?q={urllib.parse.quote_plus(sql)}"
    extra = {"Accept": "application/json"}
    if split_size:
        extra["x-dd-split-size"] = str(split_size)
    with _open_stream(url, token, extra) as resp:
        payload = json.loads(resp.read().decode("utf-8"))
    splits = []
    for entry in payload:
        sh = entry.get("descriptor", {}).get("statementHandle", {})
        splits.append(
            {
                "endpoints": entry.get("endpoints", []),
                "query": sh.get("query", ""),
                "query_id": int(sh.get("queryId", 0)),
                "producer_id": str(sh.get("producerId", "")),
                "split_size": int(sh.get("splitSize", 0)),
                "query_checksum": str(sh.get("queryChecksum", "")),
            }
        )
    if not splits:  # 0 splits is a plan error (read_arrow_dd.cpp:453-455)
        raise RuntimeError("dd_read_arrow: server returned no splits")
    return splits


def _cancel(
    base: str, query_id: int, token: str | None, timeout: float = 5.0
) -> None:
    """Best-effort GET /v1/cancel (cancel_monitor.cpp semantics: failures
    are swallowed, arrow_http_client.cpp:194-199)."""
    try:
        url = f"{base.rstrip('/')}/v1/cancel?id={query_id}"
        req = urllib.request.Request(url, headers=_headers(token))
        urllib.request.urlopen(req, timeout=timeout).close()
    except Exception:
        pass


# ------------------------------------------------------ cancel lifecycle
#
# The reference runs a monitor thread polling the host's `interrupted`
# flag every 50 ms and firing /v1/cancel server-side
# (src/http/cancel_monitor.cpp:103-157). A Spark Python worker exposes no
# pollable interruption flag, so the same guarantee — a killed task
# cancels its server-side query within a bounded interval — is provided
# event-driven instead:
#
# 1. generator close  — Spark tears down the task's read() generator
#    (GeneratorExit) -> finally fires _cancel immediately;
# 2. SIGTERM          — the worker process being terminated mid-read
#    (e.g. blocked on a slow socket, so the generator cannot unwind)
#    fires _cancel for every in-flight query from the signal handler;
# 3. interpreter exit — atexit sweeps whatever remains.
#
# All three paths drain the module-level in-flight registry, so a cancel
# is sent at most once per query id.

_INFLIGHT: dict[int, tuple[str, str | None]] = {}
# RLock: the SIGTERM handler runs on the main thread between bytecodes
# and may interrupt _inflight_add/_inflight_pop while the lock is held
# BY THE SAME THREAD — a plain Lock would deadlock the dying worker
_INFLIGHT_LOCK = threading.RLock()
_SIGTERM_HOOKED = False


def _inflight_add(query_id: int, endpoint: str, token: str | None) -> None:
    with _INFLIGHT_LOCK:
        _INFLIGHT[query_id] = (endpoint, token)


def _inflight_pop(query_id: int) -> tuple[str, str | None] | None:
    with _INFLIGHT_LOCK:
        return _INFLIGHT.pop(query_id, None)


# A dying worker must not stall on an unresponsive server: the whole
# teardown sweep (SIGTERM handler / atexit) gets one shared deadline,
# not 5s per query.
_SWEEP_DEADLINE_S = 5.0


def _cancel_all_inflight() -> None:
    with _INFLIGHT_LOCK:
        items = list(_INFLIGHT.items())
        _INFLIGHT.clear()
    deadline = time.monotonic() + _SWEEP_DEADLINE_S
    for qid, (endpoint, token) in items:
        remaining = deadline - time.monotonic()
        if remaining <= 0:
            break  # out of budget — the server's connection-drop-as-
            # cancel lease covers whatever we could not reach
        _cancel(endpoint, qid, token, timeout=min(2.0, remaining))


def _hook_sigterm() -> None:
    """Chain a SIGTERM handler that cancels in-flight queries before the
    process dies (signal handlers only install from the main thread —
    which is where Spark Python workers run read()). Safe to call often."""
    global _SIGTERM_HOOKED
    if _SIGTERM_HOOKED:
        return
    import signal

    if threading.current_thread() is not threading.main_thread():
        return
    try:
        prev = signal.getsignal(signal.SIGTERM)

        def handler(signum, frame):
            _cancel_all_inflight()
            if callable(prev):
                prev(signum, frame)
            elif prev is signal.SIG_IGN:
                return  # the host opted to ignore SIGTERM — respect it
            else:
                signal.signal(signal.SIGTERM, signal.SIG_DFL)
                signal.raise_signal(signal.SIGTERM)

        signal.signal(signal.SIGTERM, handler)
        _SIGTERM_HOOKED = True
    except (ValueError, OSError):
        pass


atexit.register(_cancel_all_inflight)


# ------------------------------------------------------------ filter -> SQL


def _sql_literal(v) -> str | None:
    import datetime
    import decimal

    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        # inf/nan have no portable SQL literal -> keep the filter local
        import math

        return str(v) if math.isfinite(v) else None
    if isinstance(v, (int, decimal.Decimal)):
        return str(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    return None  # unsupported literal type -> do not push


def _quote_ident(path: tuple) -> str | None:
    if len(path) != 1:  # nested fields not pushed
        return None
    return '"' + path[0].replace('"', '""') + '"'


def filter_to_sql(f: Filter) -> str | None:
    """Serialize one Spark DS filter to remote SQL, or None if not
    pushable (the reference pushes constant comparisons + IS [NOT] NULL,
    FilterToSQL read_arrow_dd.cpp:198-238; we add IN and string
    prefix/suffix/contains, which its servers also understand as plain
    SQL). Unsupported filters stay local — correctness is preserved
    because Spark re-applies every filter above the scan."""
    binops = {
        EqualTo: "=",
        GreaterThan: ">",
        GreaterThanOrEqual: ">=",
        LessThan: "<",
        LessThanOrEqual: "<=",
    }
    for cls, op in binops.items():
        if isinstance(f, cls):
            col = _quote_ident(f.attribute)
            lit = _sql_literal(f.value)
            if col is None or lit is None:
                return None
            return f"{col} {op} {lit}"
    if isinstance(f, IsNull):
        col = _quote_ident(f.attribute)
        return f"{col} IS NULL" if col else None
    if isinstance(f, IsNotNull):
        col = _quote_ident(f.attribute)
        return f"{col} IS NOT NULL" if col else None
    if isinstance(f, In):
        col = _quote_ident(f.attribute)
        lits = [_sql_literal(v) for v in f.value]
        if col is None or any(x is None for x in lits) or not lits:
            return None
        return f"{col} IN ({', '.join(lits)})"
    if isinstance(f, StringStartsWith):
        return _like(f.attribute, _like_escape(f.value) + "%")
    if isinstance(f, StringEndsWith):
        return _like(f.attribute, "%" + _like_escape(f.value))
    if isinstance(f, StringContains):
        return _like(f.attribute, "%" + _like_escape(f.value) + "%")
    return None


def _like_escape(value: str) -> str:
    """Escape LIKE metacharacters in a literal fragment. These filters are
    CONSUMED by pushFilters (Spark does not re-apply them), so a value
    containing % or _ must not act as a wildcard remotely — e.g.
    startswith('user_') must not match 'userX...'."""
    return (
        value.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
    )


def _like(attribute: tuple, pattern: str) -> str | None:
    col = _quote_ident(attribute)
    lit = _sql_literal(pattern)
    if col is None or lit is None:
        return None
    return f"{col} LIKE {lit} ESCAPE '\\'"


# ------------------------------------------------------------ the source


def _quote_key(k: str) -> str:
    return '"' + k.strip().replace('"', '""') + '"'


def _base_sql(
    sql: str | None, source_table: str | None, columns: list[str] | None
) -> str:
    """The remote base relation: exactly one of sql/source_table
    (read_arrow_dd.cpp:327-335), a table wrapped as SELECT * (:339-345),
    and an explicit projection as the quoted-identifier SELECT list the
    reference emits when DuckDB prunes (read_arrow_dd.cpp:246-262,
    :296)."""
    if bool(sql) == bool(source_table):
        raise ValueError(
            "dd_read_arrow: exactly one of `sql` or `source_table` required"
        )
    base = sql if sql else f"SELECT * FROM {source_table}"
    if columns:
        quoted = ", ".join(_quote_key(c) for c in columns)
        base = f"SELECT {quoted} FROM ({base}) AS _subq"
    return base


@dataclass
class ArrowSplit(InputPartition):
    endpoint: str
    query: str
    query_id: int
    producer_id: str = ""
    split_size: int = 0
    query_checksum: str = ""
    value: int = field(default=0)
    # all replicas that can serve this split (split_info.hpp:20-37 —
    # a reference split carries endpoints[], not a single address);
    # read() fails over across them. Empty -> (endpoint,).
    endpoints: tuple = ()


class ArrowHttpDataSource(DataSource):
    """Spark registration entry: ``spark.dataSource.register(ArrowHttpDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "dd_read_arrow"

    def _base_query(self) -> str:
        return _base_sql(
            self.options.get("sql"), self.options.get("source_table"), None
        )

    def _url(self) -> str:
        url = self.options.get("url")
        if not url:
            raise ValueError("dd_read_arrow: `url` option is required")
        return url

    def schema(self) -> StructType:
        """Cheap schema probe: LIMIT 0 wrapper, read only the Arrow schema
        message (vs the reference's full-result fetch at Bind,
        read_arrow_dd.cpp:353-378)."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import from_arrow_schema

        probe = f"SELECT * FROM ({self._base_query()}) AS _subq LIMIT 0"
        token = self.options.get("auth_token")
        with _open_stream(
            _query_url(self._url(), probe, _new_query_id()), token
        ) as resp:
            reader = pa.ipc.open_stream(resp)
            arrow_schema = reader.schema
        if not arrow_schema.names:  # empty schema is an error (:381-383)
            raise RuntimeError("dd_read_arrow: server returned empty schema")
        return from_arrow_schema(arrow_schema)

    def reader(self, schema: StructType) -> "ArrowHttpReader":
        return ArrowHttpReader(
            url=self._url(),
            base_query=self._base_query(),
            token=self.options.get("auth_token"),
            split=str(self.options.get("split", "false")).lower() == "true",
            split_size=int(self.options.get("split_size", 0)) or None,
            expected_names=[f.name for f in schema.fields],
        )


class ArrowHttpReader(DataSourceReader):
    def __init__(self, url, base_query, token, split, split_size,
                 expected_names=None):
        self.url = url
        self.base_query = base_query
        self.token = token
        self.split = split
        self.split_size = split_size
        # declared result column names: Spark binds arrow batches to
        # the declared schema BY POSITION, so a replica answering with
        # a different column order (fleet inconsistency — what the
        # reference's queryChecksum exists to catch) or a stale
        # `schema=` override would silently SWAP columns; read()
        # checks each stream's schema against these and fails loudly
        self.expected_names = expected_names
        self.where: list[str] = []

    # -- pushdown ----------------------------------------------------
    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        for f in filters:
            frag = filter_to_sql(f)
            if frag is None:
                yield f  # stays local (partial pushdown, :234-236)
            else:
                self.where.append(frag)

    def _effective_query(self) -> str:
        if not self.where:
            return self.base_query
        conj = " AND ".join(self.where)
        # same template as the reference's rewritten remote SQL (:296)
        return f"SELECT * FROM ({self.base_query}) AS _subq WHERE {conj}"

    # -- planning ----------------------------------------------------
    def partitions(self):
        sql = self._effective_query()
        if not self.split:
            return [
                ArrowSplit(
                    endpoint=self.url, query=sql, query_id=_new_query_id()
                )
            ]
        plan = _fetch_plan(self.url, sql, self.split_size, self.token)
        return [
            ArrowSplit(
                endpoint=(s["endpoints"][0] if s["endpoints"] else self.url),
                query=s["query"],
                # fresh id per split (read_arrow_dd.cpp:457-466)
                query_id=_new_query_id(),
                producer_id=s["producer_id"],
                split_size=s["split_size"],
                query_checksum=s["query_checksum"],
                value=i,
                endpoints=tuple(s["endpoints"]) or (self.url,),
            )
            for i, s in enumerate(plan)
        ]

    # -- execution ---------------------------------------------------
    def read(self, partition: ArrowSplit):
        """Stream Arrow record batches for one split. Memory stays bounded
        at one in-flight batch (the reference buffers the whole body —
        http_stream_factory.cpp:20-25 — which we deliberately do not).

        Cancellation: the query id is tracked in the in-flight registry
        for the SIGTERM/atexit sweeps (see the cancel-lifecycle block),
        and an early generator close fires /v1/cancel directly.

        Endpoint failover + load spreading: a split planned by the
        server may carry several replica endpoints (split_info.hpp:
        20-37). Split i STARTS at replica i % n — N splits spread
        evenly across the fleet instead of all hammering replica 0 —
        and attempts then rotate: a dead or 5xx replica costs one
        attempt and the next replica is tried immediately (no backoff
        while untried replicas remain); each attempt uses a FRESH
        query id and best-effort-cancels the abandoned one on the
        endpoint that saw it."""
        import time

        import pyarrow as pa

        _hook_sigterm()
        eps = [e for e in partition.endpoints if e] or [partition.endpoint]
        attempts = max(HTTP_RETRIES, len(eps))
        # retry the OPEN here rather than in _open_stream: each attempt
        # gets a FRESH query id (re-issuing one id could double-execute
        # server-side) and the failed attempt's id is cancelled
        # best-effort in case the server started executing it
        query_id = partition.query_id
        start = partition.value % len(eps)  # deterministic, retry-stable
        endpoint = eps[start]
        resp = None
        last: Exception | None = None
        for attempt in range(attempts):
            endpoint = eps[(start + attempt) % len(eps)]
            url = _query_url(endpoint, partition.query, query_id)
            try:
                resp = _open_stream(url, self.token, retries=1)
                break
            except TransientHTTPError as e:
                last = e
                _cancel(endpoint, query_id, self.token, timeout=2.0)
                query_id = _new_query_id()
                if attempt + 1 < len(eps):
                    continue  # untried replica next — fail over now
                if attempt < attempts - 1:
                    time.sleep(HTTP_BACKOFF_S * (2 ** (attempt // len(eps))))
        if resp is None:
            raise last
        _inflight_add(query_id, endpoint, self.token)
        done = False
        try:
            tracked = _EosTrackingStream(resp)
            reader = pa.ipc.open_stream(tracked)
            if self.expected_names is not None:
                got = [f.name for f in reader.schema]
                if [n.lower() for n in got] != [
                    n.lower() for n in self.expected_names
                ]:
                    # positional binding would silently swap columns —
                    # the queryChecksum class of failure; fail the task
                    raise RuntimeError(
                        f"dd_read_arrow: replica {endpoint} returned"
                        f" schema {got}, expected"
                        f" {self.expected_names} — inconsistent replica"
                        " or stale schema= override"
                    )
            rows = 0
            for batch in reader:
                rows += batch.num_rows
                yield batch
            if not tracked.saw_eos_marker:
                # torn response truncated at a batch boundary — fail
                # loudly so the task retries instead of yielding a
                # silently-short split partial
                raise RuntimeError(
                    f"dd_read_arrow: stream from {endpoint} (query id"
                    f" {query_id}) ended without the Arrow EOS marker"
                    f" after {rows} rows/{tracked.bytes_seen} bytes —"
                    " truncated split response"
                )
            done = True
        finally:
            still_inflight = _inflight_pop(query_id) is not None
            resp.close()
            if not done and still_inflight:
                # task killed/errored mid-stream -> best-effort cancel
                _cancel(endpoint, query_id, self.token)


# ------------------------------------------------------------ helpers


_SHIM_JAR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "jars",
    "dd_arrow_shim.jar",
)
_SHIM_LOADERS: dict[str, object] = {}  # applicationId -> JVM class loader
_SHIM_LOCK = threading.Lock()


def _load_shim(spark) -> None:
    """Make ``format("dd_arrow_dsv2")`` resolvable on the calling thread.

    ``ADD JAR`` runs once per SparkContext: it ships the jar to the
    executors and adds it to the session's shared jar class loader.
    Spark resolves a format's short name through the calling JVM
    thread's context class loader, and ``ADD JAR`` installs that loader
    only on the thread that ran it; with PySpark's pinned threads every
    Python thread has its own JVM thread, so each call points the
    current one at the jar class loader."""
    key = spark.sparkContext.applicationId
    with _SHIM_LOCK:
        loader = _SHIM_LOADERS.get(key)
        if loader is None:
            spark.sql(f"ADD JAR {_SHIM_JAR}")
            loader = spark._jsparkSession.sharedState().jarClassLoader()
            _SHIM_LOADERS[key] = loader
    spark._jvm.java.lang.Thread.currentThread().setContextClassLoader(loader)


def register(spark) -> None:
    """Load the JVM shim the builders run on and register the Python
    reference source as ``format("dd_read_arrow")``."""
    _load_shim(spark)
    spark.dataSource.register(ArrowHttpDataSource)


def _shim_reader(spark, url, query, auth_token, split, split_size):
    _load_shim(spark)
    r = (
        spark.read.format("dd_arrow_dsv2")
        .option("url", url)
        .option("query", query)
    )
    if auth_token is not None:
        r = r.option("token", auth_token)
    if split:
        r = r.option("split", "true")
    if split_size is not None:
        r = r.option("split_size", str(split_size))
    return r


def _load(reader):
    """Load with the Python source's type mapping: Spark's JVM Arrow
    conversion reads a tz-naive Arrow timestamp as TIMESTAMP_NTZ, while
    ``from_arrow_schema`` reads it as TIMESTAMP holding the naive value
    as UTC. Re-declaring those columns as TIMESTAMP reads the same
    microseconds as UTC instants; the reload reuses the probed schema,
    so it costs no round trip."""
    from pyspark.sql import types as T

    df = reader.load()
    fields = df.schema.fields
    if not any(isinstance(f.dataType, T.TimestampNTZType) for f in fields):
        return df
    return reader.schema(
        T.StructType(
            [
                T.StructField(f.name, T.TimestampType(), f.nullable)
                if isinstance(f.dataType, T.TimestampNTZType)
                else f
                for f in fields
            ]
        )
    ).load()


def dd_read_arrow(
    spark,
    url: str,
    *,
    sql: str | None = None,
    source_table: str | None = None,
    auth_token: str | None = None,
    split: bool = False,
    split_size: int | None = None,
    columns: list[str] | None = None,
    select: list[str] | None = None,
    schema=None,
):
    """DataFrame builder mirroring the table-function signature
    (read_arrow_dd.cpp:880-891), served by the JVM shim.

    Downstream ``.select``/``.filter``/``.groupBy().agg`` push into the
    remote SQL on their own, as the reference's optimizer does
    (read_arrow_dd.cpp:246-296, aggregation_pushdown.cpp:247-418).
    `select` (alias: `columns`) fixes the base relation's SELECT list
    explicitly, which also narrows the schema probe.

    `schema` (a StructType) skips the LIMIT-0 probe entirely — used when
    the caller already knows the result schema.
    """
    if columns and select:
        raise ValueError("dd_read_arrow: pass `select` or `columns`, not both")
    r = _shim_reader(
        spark, url, _base_sql(sql, source_table, select or columns),
        auth_token, split, split_size,
    )
    if schema is not None:
        return r.schema(schema).load()
    return _load(r)


def dd_read_arrow_narrow(
    spark,
    url: str,
    plan_fn,
    **options,
):
    """``plan_fn(dd_read_arrow(spark, url, **options))``: a plain
    downstream query over the remote source, with no hand-maintained
    ``select=`` list. The shim prunes the remote SELECT to the columns
    ``plan_fn`` references (``SupportsPushDownRequiredColumns``, the
    reference's transparent pruning, read_arrow_dd.cpp:246-262) and
    pushes its filters and aggregates with them, so only the columns
    the query needs cross the wire."""
    return plan_fn(dd_read_arrow(spark, url, **options))


_SPLIT_SAFE_FNS = ("count", "sum", "min", "max")  # IsSplitSafe set


def _parse_single_agg(expr: str) -> tuple[str, bool] | None:
    """Parse `expr` as EXACTLY one aggregate call ``fn(<args>)`` —
    nothing before, nothing after — returning (fn_lower, is_distinct),
    or None if the expression has any other shape.

    The reference gates split safety structurally, per
    BoundAggregateExpression (aggregation_pushdown.cpp:190-199), so a
    compound expression like ``max(a) - min(a)`` or ``sum(a)+1`` can
    never sneak through as "a max". A name-prefix regex could be fooled
    by exactly those shapes (merging ``max(a)-min(a)`` partials with
    MAX is silently wrong); this scanner requires the call's closing
    parenthesis to be the last token, tracking paren depth and
    single-quoted strings (so ``count(')')`` parses correctly)."""
    s = expr.strip()
    m = re.match(r"([A-Za-z_][A-Za-z_0-9]*)\s*\(", s)
    if not m:
        return None
    depth, in_str, end = 0, False, -1
    i = m.end() - 1
    while i < len(s):
        ch = s[i]
        if in_str:
            if ch == "'":
                if i + 1 < len(s) and s[i + 1] == "'":
                    i += 1  # '' escape
                else:
                    in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                end = i
                break
        i += 1
    if end < 0 or s[end + 1 :].strip():
        return None  # unbalanced, or trailing tokens after the call
    inner = s[m.end() : end]
    distinct = re.match(r"\s*distinct\b", inner, re.IGNORECASE) is not None
    return m.group(1).lower(), distinct


def _split_safe_merge(alias: str, expr: str):
    """Spark-side merge function for a server-computed partial aggregate,
    or raise if the aggregate is not split-safe.

    Mirrors the reference's ``IsSplitSafe`` gate
    (aggregation_pushdown.cpp:190-199): only sum/count/count(*)/min/max
    merge across splits; ``avg`` and ``DISTINCT`` do not (a DISTINCT
    partial loses cross-split duplicates; an avg partial loses its
    weight). The expression must BE a single aggregate call — compound
    expressions (``max(a) - min(a)``, ``sum(a)+1``) are rejected even
    when every function inside is individually safe, matching the
    reference's per-BoundAggregateExpression structural check. One
    unsafe aggregate fails the whole call — the reference falls back to
    local execution there (:341-343), this builder directs the caller
    to ``split=False`` (single-stream server-side aggregation) which is
    contract-equivalent.
    """
    from pyspark.sql import functions as F

    parsed = _parse_single_agg(expr)
    if (
        parsed is None
        or parsed[0] not in _SPLIT_SAFE_FNS
        or parsed[1]
    ):
        raise ValueError(
            f"dd_read_arrow_agg: `{alias}={expr}` is not split-safe "
            "(split mode pushes only a single sum/count/min/max call "
            "without DISTINCT, the reference's IsSplitSafe set — use "
            "split=False for a single-stream server-side aggregate)"
        )
    fn = parsed[0]
    # count partials merge by SUM; sum/min/max merge by themselves
    return F.sum if fn in ("count", "sum") else getattr(F, fn)


def dd_read_arrow_agg(
    spark,
    url: str,
    *,
    source_table: str | None = None,
    sql: str | None = None,
    aggs: dict[str, str],
    group_by: list[str] | None = None,
    where: str | None = None,
    auth_token: str | None = None,
    split: bool = False,
    split_size: int | None = None,
):
    """Aggregation pushdown as an explicit builder: the aggregate runs
    ON THE SERVER and only the (tiny) aggregated result crosses the
    wire.

    The reference rewrites a host-side aggregate over a remote scan into
    ``SELECT <aggs> FROM (<orig>) AS _subq [WHERE ..] [GROUP BY ..]``
    transparently (src/optimizer/aggregation_pushdown.cpp:247-418).
    The shim does the same for a plain ``dd_read_arrow(...).agg(...)``
    whose aggregates Catalyst can translate (column references only);
    this builder takes server-dialect expressions instead, so any
    aggregate the server understands runs there.

    `aggs` maps output alias -> SQL aggregate expression (server
    dialect), e.g. ``{"n": "count(*)", "sum_qty": "sum(l_quantity)"}``.
    `group_by` columns are prepended to the SELECT list.

    ``split=True`` is the reference's split-mode aggregation pushdown
    (aggregation_pushdown.cpp:341-343 + IsSplitSafe :190-199): the base
    relation is planned into splits (/v1/plan), EACH SPLIT computes the
    aggregate over its slice server-side, and Spark merges the partials
    (sum of sums/counts, min of mins, max of maxes) — the aggregation
    itself distributes across the server fleet instead of running in
    one stream. The partials arrive through ONE shim scan whose input
    partitions each carry their split's rewritten aggregate SQL (the
    ``agg_*`` options; the same mechanism the plain split scan uses),
    so the driver-side
    plan is O(1) in split count — a 1000-split fleet costs 1000 tasks,
    not a 1000-ary union of scan nodes. Only split-safe aggregates are
    accepted; ``avg`` and ``DISTINCT`` (and any compound expression)
    raise, directing the caller to ``split=False`` (the reference's
    fallback contract, expressed explicitly).
    """
    if bool(sql) == bool(source_table):
        raise ValueError(
            "dd_read_arrow_agg: exactly one of `sql` or `source_table`"
        )
    if not aggs:
        raise ValueError("dd_read_arrow_agg: `aggs` must not be empty")
    base = sql if sql else f"SELECT * FROM {source_table}"
    keys = list(group_by or [])
    select = ", ".join(
        [_quote_key(k) for k in keys]
        + [f"{expr} AS {alias}" for alias, expr in aggs.items()]
    )

    merges = (
        {a: _split_safe_merge(a, e) for a, e in aggs.items()} if split else {}
    )
    r = _shim_reader(spark, url, base, auth_token, split, split_size).option(
        "agg_select", select
    )
    if where:
        r = r.option("agg_where", where)
    if keys:
        r = r.option("agg_group_by", ",".join(keys))
    partials = _load(r)
    if not split:
        return partials  # one stream: the server's result is final
    grouped = partials.groupBy(*keys) if keys else partials.groupBy()
    return grouped.agg(
        *[m(alias).alias(alias) for alias, m in merges.items()]
    )


def dd_splits(
    spark,
    url: str,
    *,
    sql: str | None = None,
    source_table: str | None = None,
    auth_token: str | None = None,
    split_size: int | None = None,
):
    """Split introspection: one row per split the server would plan
    (dd_splits.cpp:74-91 column contract)."""
    if bool(sql) == bool(source_table):
        raise ValueError("dd_splits: exactly one of `sql` or `source_table`")
    q = sql if sql else f"SELECT * FROM {source_table}"
    plan = _fetch_plan(url, q, split_size, auth_token)
    rows = [
        (
            s["endpoints"],
            s["query_id"],
            s["query"],
            s["producer_id"],
            s["split_size"],
            s["query_checksum"],
        )
        for s in plan
    ]
    return spark.createDataFrame(
        rows,
        schema=(
            "endpoints ARRAY<STRING>, query_id BIGINT, query STRING,"
            " producer_id STRING, split_size BIGINT, query_checksum STRING"
        ),
    )
