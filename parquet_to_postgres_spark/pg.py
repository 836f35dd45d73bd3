"""Live PostgreSQL execution path — the engine the reference actually
targets (``/root/reference/src/main.rs:60-66``) — with no JDBC driver.

No Postgres JDBC jar ships in this environment and there is no network
to fetch one, so Spark's JDBC writer cannot reach Postgres here (that
code path is executed against embedded Derby instead — see
``queries/etl_q.py``).  This module proves the POSTGRES DIALECT
end-to-end anyway, through the server's native bulk interface:

- the DDL from :func:`.etl.schema_to_pg_ddl` is executed by a real
  ``postgres`` server — JSONB / BYTEA / NUMERIC / TIMESTAMP columns
  included, the exact types the reference's type map gets wrong
  (``main.rs:104-118``);
- writes go through ``COPY ... FROM STDIN (FORMAT CSV)`` — Postgres's
  fastest ingest path, and the pattern production Spark→PG pipelines
  use ("unload + COPY") when per-row JDBC INSERT is the bottleneck;
- reads come back as bounded-range parallel ``COPY ... TO STDOUT``
  scans — the read-side analogue of Spark's partitioned JDBC read —
  parsed into typed Arrow batches in the Python worker.

Scale notes.  Writes: one stage, no shuffle.  Each scan partition
renders its rows JVM-side (``F.to_csv`` lines or PGCOPY tuples, exact,
inside whole-stage codegen) and its ``mapInArrow`` task writes every
Arrow batch's values buffer into ONE ``psql`` ``COPY ... FROM STDIN``:
no object per row, at most one batch in Python memory, and the server
parses while the JVM renders.  ``coalesce(num_partitions)`` caps the
connections, an upper bound like ``JdbcSink.num_partitions`` (the
reference's 10-permit semaphore, ``main.rs:68``).  Reads: one task per range scan, placed
by ``spark.range`` (no shuffle); each task streams its psql's CSV
stdout through ``pyarrow.csv.open_csv`` typed by the declared schema
and hands the batches to Spark through ``mapInArrow`` — no per-row
Python and no JVM re-parse.  NULL is CSV's unquoted empty field and
``''`` is ``""``, so the two never collide.  On a real cluster each
executor streams its partitions straight to the server — no driver
funnel; the driver only runs DDL.  The embedded server manager below
exists for tests: point ``conninfo`` at any real host to use the sink
against one.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import subprocess
import tempfile
from dataclasses import dataclass, field
from typing import IO, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .etl import schema_to_pg_ddl

# ------------------------------------------------------------ server ----


def _pg_binaries() -> dict[str, str | None]:
    return {n: shutil.which(n) for n in ("initdb", "pg_ctl", "psql")}


def postgres_available() -> bool:
    """True iff a usable local PostgreSQL toolchain exists.

    Postgres refuses to run as root, so under uid 0 we additionally need
    ``runuser`` plus a ``postgres`` OS account to drop privileges into.
    """
    if any(v is None for v in _pg_binaries().values()):
        return False
    if os.geteuid() == 0:
        if shutil.which("runuser") is None:
            return False
        try:
            import pwd

            pwd.getpwnam("postgres")
        except KeyError:
            return False
    return True


@dataclass
class EmbeddedPostgres:
    """Scratch single-node PostgreSQL on a unix socket (tests only).

    ``initdb --auth=trust`` + ``pg_ctl start`` under ``workdir``; when
    running as root every server-side command is re-executed as the
    ``postgres`` OS user via ``runuser`` (Postgres hard-refuses uid 0).
    Clients connect over the socket as the ``postgres`` role — trust
    auth, so the (root) test process needs no password or peer match.
    """

    workdir: str
    _started: bool = field(default=False, init=False)
    _chmodded: list = field(default_factory=list, init=False)

    @property
    def datadir(self) -> str:
        return os.path.join(self.workdir, "data")

    @property
    def sockdir(self) -> str:
        return os.path.join(self.workdir, "sock")

    def conninfo(self) -> dict[str, str]:
        """What a client needs: passed into the executor-side closures
        (plain strings — picklable, no live handles)."""
        return {"host": self.sockdir, "user": "postgres", "dbname": "postgres"}

    def _server_cmd(self, args: list[str]) -> list[str]:
        if os.geteuid() == 0:
            return ["runuser", "-u", "postgres", "--", *args]
        return args

    def _run(self, args: list[str], **kw) -> subprocess.CompletedProcess:
        # cwd="/" — the postgres user cannot read /root, and the server
        # tools chdir-check their cwd before doing anything.
        return subprocess.run(
            self._server_cmd(args),
            cwd="/",
            capture_output=True,
            text=True,
            **kw,
        )

    def start(self) -> "EmbeddedPostgres":
        os.makedirs(self.datadir, exist_ok=True)
        os.makedirs(self.sockdir, exist_ok=True)
        if os.geteuid() == 0:
            import pwd
            import stat

            uid = pwd.getpwnam("postgres").pw_uid
            for p in (self.workdir, self.datadir, self.sockdir):
                os.chown(p, uid, -1)
            # the postgres user must be able to TRAVERSE every ancestor
            # (pytest tmp dirs are 0700 root) — add o+x where we own it,
            # RECORDING each change so stop() restores the original
            # modes (leaving e.g. /root world-traversable after the
            # tests would outlive the process — review finding)
            anc = os.path.dirname(os.path.abspath(self.workdir))
            while anc not in ("/", ""):
                st = os.stat(anc)
                if st.st_uid == 0 and not st.st_mode & stat.S_IXOTH:
                    os.chmod(anc, st.st_mode | stat.S_IXOTH)
                    self._chmodded.append((anc, st.st_mode))
                anc = os.path.dirname(anc)
        r = self._run([ "initdb", "-D", self.datadir, "--auth=trust", "-E", "UTF8"])
        if r.returncode != 0:
            raise RuntimeError(f"initdb failed: {r.stderr[-2000:]}")
        r = self._run(
            [
                "pg_ctl",
                "-D",
                self.datadir,
                "-l",
                os.path.join(self.workdir, "pg.log"),
                "-o",
                f"-c listen_addresses='' -k {self.sockdir} -c fsync=off",
                "-w",
                "start",
            ]
        )
        if r.returncode != 0:
            raise RuntimeError(f"pg_ctl start failed: {r.stderr[-2000:]}")
        self._started = True
        return self

    def stop(self) -> None:
        if self._started:
            self._run(["pg_ctl", "-D", self.datadir, "-m", "immediate", "stop"])
            self._started = False
        # restore ancestor modes in reverse (deepest last changed first)
        while self._chmodded:
            path, mode = self._chmodded.pop()
            try:
                os.chmod(path, mode)
            except OSError:
                pass

    def psql(self, sql: str, tuples_only: bool = True) -> str:
        """Run one SQL script through psql; returns stdout, raises on error."""
        out = run_psql(self.conninfo(), sql, tuples_only=tuples_only)
        return out

    def __enter__(self) -> "EmbeddedPostgres":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


_SHARED: EmbeddedPostgres | None = None
_SHARED_TRIED = False


def shared_postgres() -> EmbeddedPostgres | None:
    """Process-wide lazy embedded server, or None when unavailable.

    The declared ``etl_pg_roundtrip`` query and any other repeated
    caller share ONE server instead of paying initdb+start (~2 s) per
    invocation — the honest model of the reference's always-on target
    (``main.rs:60-66`` connects, it doesn't boot).  First call starts
    the server in a scratch dir; atexit stops it and removes the dir.
    A failed start is remembered and returns None thereafter (no retry
    storm in a session without a usable toolchain)."""
    global _SHARED, _SHARED_TRIED
    if _SHARED_TRIED:
        return _SHARED
    _SHARED_TRIED = True
    if not postgres_available():
        return None
    import atexit
    import tempfile

    workdir = tempfile.mkdtemp(prefix="pgshared_")
    # world-readable so the dropped-privilege postgres user can create
    # its data directory under it
    os.chmod(workdir, 0o777)
    try:
        srv = EmbeddedPostgres(workdir).start()
    except Exception:
        shutil.rmtree(workdir, ignore_errors=True)
        return None

    def _stop() -> None:
        try:
            srv.stop()
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    atexit.register(_stop)
    _SHARED = srv
    return srv


def _psql_argv(
    conninfo: dict[str, str], sql: str, tuples_only: bool = True
) -> list[str]:
    """The one psql command line: connection flags, stop on the first
    error, no ~/.psqlrc, no chatter."""
    cmd = [
        "psql",
        "-h",
        conninfo["host"],
        "-U",
        conninfo["user"],
        "-d",
        conninfo["dbname"],
        "-v",
        "ON_ERROR_STOP=1",
        "-X",
        "-q",
    ]
    if tuples_only:
        cmd.append("-At")
    return cmd + ["-c", sql]


@contextlib.contextmanager
def _psql(argv: list[str], sql: str, **pipes) -> Iterator[subprocess.Popen]:
    """One psql process running ``sql``, its stderr in a temporary file
    so it can never block on a full stderr pipe.  If the caller raises
    (a closed generator included), psql is killed; otherwise, once the
    caller is done, a nonzero exit raises with psql's stderr."""
    with tempfile.TemporaryFile() as err:
        proc = subprocess.Popen(argv, stderr=err, cwd="/", **pipes)
        try:
            yield proc
        except BaseException:
            proc.kill()
            raise
        finally:
            for pipe in filter(None, (proc.stdin, proc.stdout)):
                with contextlib.suppress(BrokenPipeError):
                    pipe.close()
            rc = proc.wait()
        if rc != 0:
            err.seek(0)
            msg = err.read().decode("utf-8", "replace")
            raise RuntimeError(f"psql failed ({sql[:120]!r}): {msg[-2000:]}")


def run_psql(
    conninfo: dict[str, str], sql: str, tuples_only: bool = True
) -> str:
    """Client-side psql call from the driver (DDL, queries); it depends
    only on the conninfo dict.  Executor-side COPY goes through
    :func:`_psql_stdin` and :func:`_psql_stdout`."""
    argv = _psql_argv(conninfo, sql, tuples_only)
    with _psql(argv, sql, stdout=subprocess.PIPE) as proc:
        return proc.stdout.read().decode()


@contextlib.contextmanager
def _psql_stdout(conninfo: dict[str, str], sql: str) -> Iterator[IO[bytes]]:
    """psql's stdout as a binary pipe, for output too large to hold; a
    nonzero exit raises after the caller has read to EOF."""
    argv = _psql_argv(conninfo, sql, tuples_only=False)
    with _psql(argv, sql, stdout=subprocess.PIPE) as proc:
        yield proc.stdout


def _psql_stdin(conninfo: dict[str, str], sql: str, chunks: Iterable) -> str:
    """The stdin twin of :func:`_psql_stdout`, for input too large to
    hold: stream ``chunks`` (bytes-like) into psql running ``sql``, which
    ends in ``COPY ... FROM STDIN``, and return its stdout, the server's
    command tags (``COPY n``; psql prints them only without ``-q``).  If
    ``chunks`` raises, psql is killed."""
    argv = [a for a in _psql_argv(conninfo, sql) if a != "-q"]
    with _psql(argv, sql, stdin=subprocess.PIPE, stdout=subprocess.PIPE) as proc:
        # a pipe psql closed early means it quit: a nonzero exit raises
        # with its stderr, an exit of 0 reports a short COPY count
        with contextlib.suppress(BrokenPipeError):
            for chunk in chunks:
                proc.stdin.write(chunk)
            proc.stdin.close()
        return proc.stdout.read().decode()  # a few bytes, written at exit


def _values(col):
    """The bytes of a string/binary Arrow array's values, end to end: a
    zero-copy slice of its data buffer, with no object made per row."""
    import numpy as np

    _, offsets, data = col.buffers()
    offsets = np.frombuffer(offsets, "i8" if "large" in str(col.type) else "i4")
    start, end = (int(o) for o in offsets[[col.offset, col.offset + len(col)]])
    return data.slice(start, end - start)


# ----------------------------------------------------------- CSV wire ----

# Options of the write side's F.to_csv.  escape='"' doubles embedded
# quotes (RFC 4180) — Postgres CSV's QUOTE/ESCAPE default; Spark's own
# default escape is backslash, which Postgres CSV would read literally.
# NULL rides as unquoted-empty, empty string as "" — Postgres makes that
# distinction in CSV mode, and COPY TO writes it the same way, which is
# what read_back's Arrow parse relies on.  Spark's CSV writer trims
# leading/trailing whitespace by default; Postgres CSV keeps it, so the
# trims are off or " a " would land as "a".
_CSV_OPTS = {
    "escape": '"',
    "nullValue": "",
    "emptyValue": '""',
    "ignoreLeadingWhiteSpace": "false",
    "ignoreTrailingWhiteSpace": "false",
    "timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "timestampNTZFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "dateFormat": "yyyy-MM-dd",
}


def prepare_for_copy(df: DataFrame) -> DataFrame:
    """Rewrite columns whose CSV text needs Postgres-specific spelling:
    nested types → JSON text (lands in JSONB), binary → ``\\x`` hex text
    (bytea's hex input form).  Everything else to_csv renders exactly."""
    cols = []
    for f_ in df.schema.fields:
        c = F.col(f_.name)
        if isinstance(f_.dataType, (T.ArrayType, T.MapType, T.StructType)):
            cols.append(F.to_json(c).alias(f_.name))
        elif isinstance(f_.dataType, T.BinaryType):
            cols.append(
                F.when(
                    c.isNotNull(), F.concat(F.lit("\\x"), F.lower(F.hex(c)))
                ).alias(f_.name)
            )
        else:
            cols.append(c.alias(f_.name))
    return df.select(*cols)


# -------------------------------------------------------- binary wire ----

# COPY (FORMAT BINARY) per the public protocol docs: signature + flags +
# extension-length header, per-tuple int16 field count then per-field
# int32 byte length (-1 = NULL) + payload in each type's binary send
# format, int16 -1 trailer.  Temporal epochs are 2000-01-01 based.
_PGCOPY_HEADER = b"PGCOPY\n\xff\r\n\x00" + b"\x00" * 8
_PGCOPY_TRAILER = b"\xff\xff"
_PGCOPY_NULL = b"\xff\xff\xff\xff"
_PG_EPOCH_MICROS = 946_684_800_000_000  # 2000-01-01 minus 1970-01-01
_PG_EPOCH_DAYS = 10_957
_NTZ_EPOCH_SQL = "timestamp_ntz'1970-01-01 00:00:00'"


def _be(col: "F.Column", nbytes: int) -> "F.Column":
    """A long-valued column as its low ``nbytes`` big-endian bytes.
    hex() of a negative long is already the 16-digit two's complement,
    so the byte slice is exact for int2/int4/int8 alike — and the whole
    chain (hex/lpad/unhex/substring) stays inside whole-stage codegen."""
    h = F.unhex(F.lpad(F.hex(col.cast("long")), 16, "0"))
    return F.substring(h, 9 - nbytes, nbytes)


def _len_prefixed(payload: "F.Column") -> "F.Column":
    return F.concat(_be(F.octet_length(payload), 4), payload)


def _binary_cell(f: T.StructField) -> "F.Column":
    """One field of a PGCOPY tuple: int32 length + binary-send payload,
    or the -1 NULL marker.  Everything below except the float-bits
    reflect() call runs in codegen; reflect is still JVM-side (no
    Python boundary), which the e2e A/B in BASELINE.md prices."""
    c = F.col(f.name)
    dt = f.dataType
    fixed = None  # (nbytes, payload) for fixed-width sends
    if isinstance(dt, T.LongType):
        fixed = (8, _be(c, 8))
    elif isinstance(dt, T.IntegerType):
        fixed = (4, _be(c, 4))
    elif isinstance(dt, (T.ShortType, T.ByteType)):  # DDL: SMALLINT
        fixed = (2, _be(c, 2))
    elif isinstance(dt, T.BooleanType):
        fixed = (1, F.when(c, F.lit(b"\x01")).otherwise(F.lit(b"\x00")))
    elif isinstance(dt, T.DoubleType):
        bits = F.expr(
            "reflect('java.lang.Double','doubleToRawLongBits', "
            f"coalesce(`{f.name}`, 0.0d))"
        ).cast("long")
        fixed = (8, _be(bits, 8))
    elif isinstance(dt, T.FloatType):
        bits = F.expr(
            "reflect('java.lang.Float','floatToRawIntBits', "
            f"coalesce(`{f.name}`, cast(0.0 as float)))"
        ).cast("long")
        fixed = (4, _be(bits, 4))
    elif isinstance(dt, T.TimestampType):
        # match the CSV path's rendering: the SESSION-LOCAL wall time
        # lands in the tz-less TIMESTAMP column (cast to NTZ first)
        micros = F.expr(
            f"timestampdiff(MICROSECOND, {_NTZ_EPOCH_SQL}, "
            f"cast(`{f.name}` as timestamp_ntz))"
        )
        fixed = (8, _be(micros - F.lit(_PG_EPOCH_MICROS), 8))
    elif isinstance(dt, T.TimestampNTZType):
        micros = F.expr(
            f"timestampdiff(MICROSECOND, {_NTZ_EPOCH_SQL}, `{f.name}`)"
        )
        fixed = (8, _be(micros - F.lit(_PG_EPOCH_MICROS), 8))
    elif isinstance(dt, T.DateType):
        fixed = (4, _be(F.unix_date(c) - F.lit(_PG_EPOCH_DAYS), 4))
    elif isinstance(dt, T.StringType):
        cell = _len_prefixed(F.encode(c, "UTF-8"))
    elif isinstance(dt, T.BinaryType):
        cell = _len_prefixed(c)
    elif isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        # jsonb binary send format: version byte 0x01 + the JSON text
        cell = _len_prefixed(
            F.concat(F.lit(b"\x01"), F.encode(F.to_json(c), "UTF-8"))
        )
    elif isinstance(dt, T.DecimalType):
        cell = _numeric_cell(f.name, dt.precision, dt.scale)
    else:
        raise ValueError(
            f"COPY BINARY has no send format mapped for "
            f"{dt.simpleString()} (use wire_format='csv')"
        )
    if fixed is not None:
        nbytes, payload = fixed
        cell = F.concat(F.lit(nbytes.to_bytes(4, "big")), payload)
    return F.when(c.isNull(), F.lit(_PGCOPY_NULL)).otherwise(cell)


def _numeric_cell(name: str, p: int, s: int) -> "F.Column":
    """NUMERIC(p, s) in the numeric binary send format: int16 ndigits /
    weight / sign / dscale header then base-10000 digit groups, most
    significant first, aligned so a group boundary sits on the decimal
    point (the wire's invariant — hence the fractional pad to a
    multiple of 4 decimal digits).

    Exactness discipline: the digit groups come from the decimal's
    canonical STRING form — lpad/rpad/substring, all codegen, all
    trivially exact.  Three arithmetic forms were tried first and each
    REPRODUCED a corruption: floor(u/10^k) (decimal division rounds
    HALF_UP before floor — 99999999.99 grew a phantom digit), an
    unscaling multiply (the decimal(38,s) x decimal(m+1,0) TYPE rule
    overflows precision 38 and ANSI-errors at runtime for p+m+2 > 38
    even when the VALUE fits — decimal(38,0) died after the pre-DROP
    validation passed), and fractional-modulus pmod chains (the
    capped division result type silently rounded decimal(36,19)'s low
    groups).  Spark's decimal-to-string cast always prints plain
    notation with exactly ``s`` fraction digits, so string slicing is
    the one representation with no numeric type rules to fight.

    Leading zero groups ride along (numeric_recv accepts them; they
    contribute 0), which keeps ndigits/weight compile-time constants
    and the whole cell inside codegen.  EVERY decimal(p, s) is
    supported: the string pipeline never builds a point-aligned
    numeric intermediate, so the p+dpad <= 38 refusal the arithmetic
    forms needed is gone (r11 fourth-pass review finding — the guard
    cited deleted code)."""
    dpad = (4 - s % 4) % 4
    frac_groups = (s + dpad) // 4
    int_groups = max(1, -(-(p - s) // 4))
    ndigits = int_groups + frac_groups
    weight = int_groups - 1
    c = F.col(name)
    # the sign comes off the STRING too: even F.abs() is unsafe here —
    # measured corrupting decimal(36,19) (…0123456 -> …0123500, a
    # 17-significant-digit rounding inside the abs/type chain)
    txt = F.regexp_replace(c.cast("string"), "^-", "")
    if s > 0:
        int_str = F.substring_index(txt, ".", 1)
        frac_str = F.substring_index(txt, ".", -1)
    else:
        int_str = txt
        frac_str = F.lit("")
    digits_str = F.concat(
        F.lpad(int_str, 4 * int_groups, "0"),
        F.rpad(frac_str, 4 * frac_groups, "0"),
    )
    parts = [
        F.lit((8 + 2 * ndigits).to_bytes(4, "big")),  # field length
        F.lit(ndigits.to_bytes(2, "big")),
        F.lit((weight & 0xFFFF).to_bytes(2, "big")),
        F.when(c < 0, F.lit((0x4000).to_bytes(2, "big"))).otherwise(
            F.lit(b"\x00\x00")
        ),
        F.lit(s.to_bytes(2, "big")),
    ]
    for i in range(ndigits):
        parts.append(
            _be(F.substring(digits_str, 4 * i + 1, 4).cast("int"), 2)
        )
    return F.concat(*parts)


def binary_copy_tuples(df: DataFrame) -> DataFrame:
    """(rowbytes binary): each row as one complete PGCOPY tuple —
    field-count prefix plus every cell — built entirely JVM-side."""
    n = len(df.schema.fields)
    cells = [_binary_cell(f) for f in df.schema.fields]
    return df.select(
        F.concat(F.lit(n.to_bytes(2, "big")), *cells).alias("rowbytes")
    )


@dataclass
class PostgresCopySink:
    """Bulk sink into a live PostgreSQL via per-partition COPY.

    The Spark-side contract mirrors :class:`.etl.JdbcSink` — same
    ``table`` / ``mode`` / ``num_partitions`` knobs, same nested-column
    flattening — but the wire is Postgres's native COPY protocol, so the
    *dialect* DDL (JSONB/BYTEA/NUMERIC, ``schema_to_pg_ddl``) actually
    executes on the server the reference targets.

    Every task checks the row count the server reports for its COPY
    against the rows it shipped and raises on a mismatch.  One value
    cannot travel on the CSV wire: text whose multi-line string holds
    a line that is exactly ``\\.`` (psql's end-of-data marker reads it
    even inside quotes; the server then rejects the cut-off record
    loudly).  A record that is ``\\.`` as a whole is quoted and loads.
    Use ``wire_format="binary"`` for such text.
    """

    conninfo: dict[str, str]
    table: str
    mode: str = "append"
    # an upper bound: at most this many tasks, each one COPY connection
    num_partitions: int = 4
    # partition_tag=True makes per-TASK writes idempotent: rows carry a
    # __part column (the task's partition id, stable across retries),
    # and each task runs DELETE __part + COPY in ONE implicit psql
    # transaction — a task retried after its COPY committed (executor
    # loss after commit) replaces its own rows instead of doubling
    # them.  write_batch stages with this on; the plain append path
    # keeps the user's exact schema and therefore shares the same
    # task-retry exposure as any plain INSERT/COPY appender (disable
    # spark.speculation for it, and prefer write_batch for guarantees).
    partition_tag: bool = False
    # COPY wire format: 'csv' (F.to_csv lines) or 'binary' (PGCOPY
    # tuples, binary_copy_tuples), both rendered JVM-side and streamed
    # as Arrow values buffers; every DDL type travels on both.  csv is
    # the default (faster end-to-end on a shared box, BASELINE.md's sf0.1
    # A/B); binary suits a server-CPU-bound topology (2.1x cheaper parse).
    wire_format: str = "csv"

    def write(self, df: DataFrame) -> str:
        schema_df = (
            df.withColumn("__part", F.lit(0)) if self.partition_tag else df
        )
        ddl = schema_to_pg_ddl(self.table, schema_df.schema)
        if self.mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append/overwrite, got {self.mode!r}")
        if self.wire_format not in ("csv", "binary"):
            raise ValueError(
                f"wire_format must be csv/binary, got {self.wire_format!r}"
            )
        # building the frame builds every binary cell, so a refused type
        # raises here, before the DROP below can empty a populated table
        copy = self._copy_frame(df)
        # one -c string is one implicit transaction: a CREATE that fails
        # rolls the DROP back and leaves the old table and its rows
        drop = f"DROP TABLE IF EXISTS {self.table}; "
        run_psql(self.conninfo, (drop if self.mode == "overwrite" else "") + ddl)
        copy.collect()  # one row per task: the rows it shipped
        return ddl

    def _copy_frame(self, df: DataFrame) -> DataFrame:
        """The COPY job as a frame: scan, render, and one ``mapInArrow``
        task per connection that streams its rows into one psql COPY
        and yields its row count.  Building it runs no psql."""
        binary = self.wire_format == "binary"
        prepared = df if binary else prepare_for_copy(df)
        # Spark's JDBC-writer rule: coalesce to the connection cap, with
        # no shuffle and a retried task's rows fixed (partition_tag stays
        # exact).  A narrower input keeps its partitions; a wider one has
        # its last stage, a join or aggregate included, run in that many.
        prepared = prepared.coalesce(self.num_partitions)
        if self.partition_tag:
            prepared = prepared.withColumn("__part", F.spark_partition_id())
        if binary:
            lines = binary_copy_tuples(prepared)
        else:
            # psql ends COPY data at a line that is exactly \. — quoted,
            # it is the same CSV value and no longer an end marker.
            # to_csv has its own select so it renders once, not per branch.
            line = F.col("line")
            lines = prepared.select(
                F.to_csv(F.struct(*prepared.columns), _CSV_OPTS).alias("line")
            ).select(
                F.concat(
                    F.when(line == "\\.", F.lit('"\\."')).otherwise(line),
                    F.lit("\n"),
                ).alias("line")
            )
        fmt = "BINARY" if binary else "CSV, NULL ''"
        cols = ", ".join(prepared.columns)
        copy = f"COPY {self.table} ({cols}) FROM STDIN (FORMAT {fmt})"
        conninfo, table, tagged = dict(self.conninfo), self.table, self.partition_tag

        def _copy_partition(batches):
            import pyarrow as pa
            from pyspark import TaskContext

            shipped = [0]  # rows handed to psql

            def values(batch):
                shipped[0] += batch.num_rows
                return _values(batch.column(0))

            nonempty = (b for b in batches if b.num_rows)
            # psql starts at the first non-empty batch, so an empty
            # partition opens no connection.  The peeked batch goes back
            # in front through a list iterator, which lets go of it once
            # it is written: one batch in flight.
            peeked = list(itertools.islice(nonempty, 1))
            if peeked:
                # one -c string = one implicit transaction: a tagged
                # task's delete and copy commit or roll back together
                pid = TaskContext.get().partitionId()
                delete = f"DELETE FROM {table} WHERE __part = {pid}; "
                sql = (delete if tagged else "") + copy
                body = map(values, itertools.chain(iter([peeked.pop()]), nonempty))
                if binary:
                    body = itertools.chain([_PGCOPY_HEADER], body, [_PGCOPY_TRAILER])
                loaded = int(_psql_stdin(conninfo, sql, body).split()[-1])
                if loaded != shipped[0]:
                    raise RuntimeError(
                        f"COPY into {table} loaded {loaded} rows of the "
                        f"{shipped[0]} this task shipped"
                    )
            yield pa.RecordBatch.from_pydict({"n": shipped})

        return lines.mapInArrow(_copy_partition, "n long")

    # ---- exactly-once micro-batch publish (foreachBatch contract) ----
    #
    # The psql twin of etl.ExactlyOnceJdbcSink: COPY lands the batch in
    # an overwritten staging table (parallel, retry-safe), then ONE
    # psql -c string publishes stage → target and records the batch_id
    # in <table>__epochs.  psql executes a multi-statement -c string in
    # a single implicit transaction (with ON_ERROR_STOP aborting it
    # whole), so the publish is atomic; a replayed batch hits the
    # ledger and is skipped before any row moves.

    @property
    def stage_table(self) -> str:
        return f"{self.table}__stage"

    @property
    def ledger_table(self) -> str:
        return f"{self.table}__epochs"

    def is_committed(self, batch_id: int) -> bool:
        run_psql(
            self.conninfo,
            f"CREATE TABLE IF NOT EXISTS {self.ledger_table} "
            "(batch_id BIGINT PRIMARY KEY);",
        )
        out = run_psql(
            self.conninfo,
            f"SELECT 1 FROM {self.ledger_table} "
            f"WHERE batch_id = {int(batch_id)};",
        )
        return out.strip() != ""

    def write_batch(self, df: DataFrame, batch_id: int) -> bool:
        """Returns True if the batch was published, False on replay-skip."""
        if self.is_committed(batch_id):
            return False
        stage = PostgresCopySink(
            conninfo=self.conninfo,
            table=self.stage_table,
            mode="overwrite",
            num_partitions=self.num_partitions,
            partition_tag=True,
        )
        stage.write(df)
        cols = ", ".join(df.columns)
        run_psql(
            self.conninfo,
            f"CREATE TABLE IF NOT EXISTS {self.table} AS "
            f"SELECT {cols} FROM {self.stage_table} WITH NO DATA;",
        )
        run_psql(
            self.conninfo,
            f"INSERT INTO {self.table} ({cols}) "
            f"SELECT {cols} FROM {self.stage_table}; "
            f"INSERT INTO {self.ledger_table} (batch_id) "
            f"VALUES ({int(batch_id)});",
        )
        return True


def read_back(
    spark: SparkSession,
    conninfo: dict[str, str],
    table: str,
    schema: T.StructType | str,
    partition_column: str | None = None,
    lower: int | None = None,
    upper: int | None = None,
    num_partitions: int = 4,
) -> DataFrame:
    """Parallel COPY-out read: ``num_partitions`` bounded-range
    ``COPY (SELECT * FROM table WHERE ...) TO STDOUT (FORMAT CSV)`` scans,
    one per Spark partition, each parsed into typed Arrow batches inside
    the Python worker (``mapInArrow``).

    The table's columns must be in ``schema``'s order.  Postgres CSV
    writes NULL as an unquoted empty field and the empty string as
    ``""``; the Arrow parse keeps that distinction, so every string
    value — whatever its text — reads back as itself.  Numbers
    (``NaN``/``±Infinity`` included), decimals, dates and booleans
    arrive typed; timestamps (cast in the session time zone), bytea
    (``\\x`` hex) and nested types (JSON) arrive as text and are decoded
    JVM-side.

    Ranges only steer split boundaries — the edge scans are unbounded
    below/above, so rows outside [lower, upper) still arrive (the JDBC
    partitioned-read contract, queries/etl_q.py:154).  Without a
    partition column the whole table comes over one connection."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if partition_column is None:
        wheres = [""]
    else:
        if lower is None or upper is None or num_partitions < 1:
            raise ValueError("partitioned read needs lower/upper/num_partitions")
        span = max(1, (int(upper) - int(lower) + num_partitions) // num_partitions)
        bounds = [int(lower) + i * span for i in range(1, num_partitions)]
        edges = [None, *bounds, None]
        wheres = []
        for lo, hi in zip(edges[:-1], edges[1:]):
            conds = []
            if lo is not None:
                conds.append(f"{partition_column} >= {lo}")
            if hi is not None:
                conds.append(f"{partition_column} < {hi}")
            wheres.append(f" WHERE {' AND '.join(conds)}" if conds else "")

    stage_fields, decode_cols = [], []
    for f_ in schema.fields:
        c, dt = F.col(f_.name), f_.dataType
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            # COPY out trims trailing zeros ("23:59:59", "…59.5"); the
            # string→timestamp CAST takes variable-length fractions
            decoded = c.cast(dt)
        elif isinstance(dt, T.BinaryType):
            decoded = F.unhex(F.expr(f"substring(`{f_.name}`, 3)"))
        elif isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
            decoded = F.from_json(c, dt)
        else:
            stage_fields.append(T.StructField(f_.name, dt, True))
            decode_cols.append(c)
            continue
        stage_fields.append(T.StructField(f_.name, T.StringType(), True))
        decode_cols.append(decoded.alias(f_.name))
    stage_schema = T.StructType(stage_fields)
    arrow_schema = to_arrow_schema(stage_schema)
    conninfo = dict(conninfo)

    def _copy_out(batches):
        from pyarrow import csv

        read_opts = csv.ReadOptions(column_names=arrow_schema.names)
        parse_opts = csv.ParseOptions(newlines_in_values=True)
        convert_opts = csv.ConvertOptions(
            column_types=arrow_schema,
            null_values=[""],
            strings_can_be_null=True,
            quoted_strings_can_be_null=False,
            true_values=["t"],
            false_values=["f"],
        )
        for batch in batches:
            for i in batch.column("id").to_pylist():
                sql = (
                    f"COPY (SELECT * FROM {table}{wheres[i]}) "
                    "TO STDOUT (FORMAT CSV)"
                )
                with _psql_stdout(conninfo, sql) as out:
                    # an empty scan writes nothing, which open_csv refuses
                    if out.peek(1):
                        yield from csv.open_csv(
                            out, read_opts, parse_opts, convert_opts
                        )

    # one range element per partition: task i scans wheres[i], no shuffle
    n = len(wheres)
    return (
        spark.range(0, n, 1, n)
        .mapInArrow(_copy_out, stage_schema)
        .select(*decode_cols)
    )
