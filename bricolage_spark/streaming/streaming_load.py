"""streaming_load: exactly-once micro-batch file loader.

Semantics reproduced from jobclass/streaming_load.rb (531 LoC — SURVEY.md
§2.6), the one true streaming operator of the reference:

1. list candidate files under ``queue-path`` whose basename matches the
   strftime-like ``file-name`` pattern (``%Y%m%d-%H%M_%Q`` → named-group
   regex, compile_name_pattern :455-473);
2. dedup against the **load log** table by ``data_file`` (the
   reference's right-outer/NOT-IN joins :294-330; here one
   ``data_file IN (...)`` filter over the log's Parquet files, read on
   the driver with pyarrow: the log is only file names) — exactly-once
   across crash/retry;
3. load new files into the work table, ``INSERT INTO dest SELECT * FROM
   work`` (or a custom SQL), and append the load log — atomically (the
   reference uses one Redshift transaction :166-195; here one
   ``SparkEngine.publish`` manifest, under the tables' writer locks, so
   concurrent loaders load each file once). Without a custom SQL the
   batch is one Spark job: its files are parsed and written once, into
   the work table's stage, and the same Parquet files are hard-linked
   into the dest delta; the manifest replaces the work table and merges
   the dest and log deltas (with ``skip-work`` the one write is the dest
   delta). A custom SQL reads the work table, so that path publishes the
   work table first and writes the SQL's rows as the dest delta;
4. dequeue: move each loaded file to ``persistent-path`` (date-templated
   from the file name's captured fields, format_path :429-449).

``load-only`` / ``dequeue-only`` / ``noop`` flags mirror the reference's
operational modes.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from bricolage_spark.engine import TableSpec, split_statements
from bricolage_spark.exception import ParameterError
from bricolage_spark.jobs import Job, JobResult, jobclass

_PATTERN_TOKEN = re.compile(r"[^%]+|%\d*.")

_LOG_SCHEMA = StructType([
    StructField("job_process_id", StringType()),
    StructField("start_time", TimestampType()),
    StructField("end_time", TimestampType()),
    StructField("target_table", StringType()),
    StructField("data_file", StringType()),
])


def compile_name_pattern(template: str) -> re.Pattern:
    """strftime-ish file-name template → anchored named-group regex
    (parity incl. %*, %%, %<n>N — streaming_load.rb:455-473)."""
    parts: list[str] = []
    for m in _PATTERN_TOKEN.finditer(template):
        op = m.group(0)
        if op == "%Y":
            parts.append(r"(?P<year>\d{4})")
        elif op == "%m":
            parts.append(r"(?P<month>\d{2})")
        elif op == "%d":
            parts.append(r"(?P<day>\d{2})")
        elif op == "%H":
            parts.append(r"(?P<hour>\d{2})")
        elif op == "%M":
            parts.append(r"(?P<minute>\d{2})")
        elif op == "%S":
            parts.append(r"(?P<second>\d{2})")
        elif op == "%Q":
            parts.append(r"(?P<seq>\d+)")
        elif op == "%*":
            parts.append(r"[^/]*")
        elif op == "%%":
            parts.append("%")
        else:
            nm = re.fullmatch(r"%(\d+)N", op)
            if nm:
                parts.append(rf"(?P<nanosecond>\d{{{nm.group(1)}}})")
            elif op.startswith("%"):
                raise ParameterError(
                    f"unknown time format in file_name config: {op!r}"
                )
            else:
                parts.append(re.escape(op))
    return re.compile(r"\A" + "".join(parts) + r"\Z")


def format_path(template: str, basename: str, pattern: re.Pattern) -> str:
    """Expand %Y/%m/… in ``template`` from fields captured off
    ``basename`` (streaming_load.rb:438-449)."""
    m = pattern.match(basename)
    if not m:
        raise ParameterError(f"file name does not match the pattern: {basename!r}")
    groups = m.groupdict()
    field_of = {
        "%Y": "year", "%m": "month", "%d": "day", "%H": "hour",
        "%M": "minute", "%S": "second", "%N": "nanosecond", "%Q": "seq",
    }

    def sub(mm: re.Match) -> str:
        op = mm.group(0)
        if op not in field_of or groups.get(field_of[op]) is None:
            raise ParameterError(f"unknown time format in persistent path: {op}")
        return groups[field_of[op]]

    return re.sub(r"%.", sub, template)


class FileQueue:
    """The S3Queue stand-in: a directory of pending files
    (streaming_load.rb:392-527; any Hadoop URI at scale, local dir here).
    """

    def __init__(self, queue_path: str, persistent_path: str, file_name: str):
        self.queue_path = queue_path
        self.persistent_path = persistent_path
        self.pattern = compile_name_pattern(file_name)

    def queued_files(self) -> list[str]:
        if not os.path.isdir(self.queue_path):
            return []
        return sorted(
            os.path.join(self.queue_path, f)
            for f in os.listdir(self.queue_path)
            if self.pattern.match(f)
        )

    def dequeue(self, path: str) -> str:
        """Move a loaded file to its date-templated persistent location."""
        base = os.path.basename(path)
        dest_dir = format_path(self.persistent_path, base, self.pattern)
        os.makedirs(dest_dir, exist_ok=True)
        dest = os.path.join(dest_dir, base)
        shutil.move(path, dest)
        return dest


class HadoopFileQueue:
    """FileQueue over the Hadoop FileSystem API: works for ANY URI the
    Spark runtime can reach — ``file://`` locally, ``s3a://``/``hdfs://``
    on a cluster. This is the production queue (the reference's S3Queue);
    the plain :class:`FileQueue` is the zero-dependency local variant.
    Listing and renames run driver-side (control plane only — the data
    itself is read by executors via ``spark.read``).
    """

    def __init__(self, spark, queue_path: str, persistent_path: str, file_name: str):
        self.spark = spark
        self.queue_path = queue_path
        self.persistent_path = persistent_path
        self.pattern = compile_name_pattern(file_name)
        jvm = spark._jvm  # noqa: SLF001
        self._jpath = jvm.org.apache.hadoop.fs.Path
        hconf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
        self._fs = self._jpath(queue_path).getFileSystem(hconf)

    def queued_files(self) -> list[str]:
        p = self._jpath(self.queue_path)
        if not self._fs.exists(p):
            return []
        out = []
        for st in self._fs.listStatus(p):
            name = st.getPath().getName()
            if st.isFile() and self.pattern.match(name):
                out.append(st.getPath().toString())
        return sorted(out)

    def dequeue(self, path: str) -> str:
        base = path.rsplit("/", 1)[-1]
        dest_dir = format_path(self.persistent_path, base, self.pattern)
        self._fs.mkdirs(self._jpath(dest_dir))
        dest = f"{dest_dir}/{base}"
        if not self._fs.rename(self._jpath(path), self._jpath(dest)):
            raise ParameterError(f"dequeue rename failed: {path} -> {dest}")
        return dest


class StreamingLoader:
    """The load algorithm, reusable outside the job class."""

    def __init__(
        self,
        engine,
        queue: FileQueue,
        dest_table: str,
        log_table: str,
        work_table: str | None = None,
        fmt: str = "json",
        sql: str | None = None,
        process_id: str = "local",
    ):
        self.engine = engine
        self.queue = queue
        self.dest_table = dest_table
        self.log_table = log_table
        self.work_table = work_table
        self.fmt = fmt
        self.sql = sql
        self.process_id = process_id

    def new_files(self, candidates: list[str]) -> list[str]:
        """The candidates the load log does not name yet, in candidate
        order (exactly-once core, streaming_load.rb:294-312). One
        ``data_file IN (<candidate basenames>)`` filter over the log's
        Parquet files, read on the driver with pyarrow: the log is only
        file names, and a Spark job costs more than reading them. Spark's
        ``_SUCCESS`` and ``.crc`` siblings are skipped. Each driver-written
        log part is sorted by ``data_file``, so row-group statistics prune
        the scan (through the candidates' name range: pyarrow prunes
        nothing on an ``IN`` alone), and the driver holds O(candidates)
        names however long the log grows."""
        if not candidates or not self.engine.table_exists(self.log_table):
            return list(candidates)
        import pyarrow as pa
        import pyarrow.dataset as ds

        names = [os.path.basename(p) for p in candidates]
        log = ds.dataset(
            self.engine.table_dir(self.log_table),
            schema=pa.schema([("data_file", pa.string())]),
            format="parquet",
        )
        data_file = ds.field("data_file")
        probe = (data_file >= min(names)) & (data_file <= max(names)) & data_file.isin(names)
        loaded = set(log.to_table(filter=probe)["data_file"].to_pylist())
        return [p for p, name in zip(candidates, names) if name not in loaded]

    # -- joint work+dest+log commit (streaming_load.rb:166-195 parity) ------
    #
    # The reference loads the work table, appends dest AND the load log in
    # ONE Redshift transaction; here ONE ``SparkEngine.publish`` replaces
    # the work table and merges the staged deltas, with the batch, probe
    # to dequeue, under the tables' locks.

    def _stage_delta(self, df: DataFrame, table: str, txid: str) -> tuple[str, int]:
        """Write ``df`` as parquet into a hidden staging sibling of
        ``table``: ``__stage__`` for the work table, which the batch
        replaces, ``__delta__`` for a table it appends to. Returns
        (stage_dir, row_count) — rows observed during the write itself."""
        kind = "stage" if table == self.work_table else "delta"
        stage = self.engine.table_dir(table) + f".__{kind}__{txid}"
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows_written"))
        df.write.mode("overwrite").parquet(stage)
        return stage, int(obs.get["rows_written"])

    def _link_delta(self, stage: str, table: str, txid: str) -> str:
        """Hard-link the Parquet files of ``stage`` into ``table``'s
        hidden ``__delta__`` sibling, so the dest gets the work table's
        rows without a second write (skipping ``_SUCCESS`` and ``.crc``,
        as the merge does). A shared inode is safe: no Parquet file is
        ever rewritten in place, and both siblings sit in one warehouse,
        so on one filesystem. Returns the delta dir."""
        delta = self.engine.table_dir(table) + f".__delta__{txid}"
        os.makedirs(delta)
        for name in os.listdir(stage):
            if not name.startswith(("_", ".")):
                os.link(os.path.join(stage, name), os.path.join(delta, name))
        return delta

    def _stage_log_delta(self, files: list[str], txid: str) -> str:
        """Write the batch's load-log rows into the log's hidden staging
        dir as one Parquet file, on the driver: the rows are only file
        names, cheaper to write with pyarrow than with a Spark job. Same
        five columns and types as a Spark-written log part; the rows keep
        the (sorted) queue order, so the part's ``data_file`` statistics
        let ``new_files`` skip it. Returns the stage dir."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        stage = self.engine.table_dir(self.log_table) + f".__delta__{txid}"
        os.makedirs(stage, exist_ok=True)
        now = datetime.now(timezone.utc)
        n = len(files)
        rows = pa.table(
            {
                "job_process_id": [self.process_id] * n,
                "start_time": [now] * n,
                "end_time": [now] * n,
                "target_table": [self.dest_table] * n,
                "data_file": [os.path.basename(p) for p in files],
            },
            schema=to_arrow_schema(_LOG_SCHEMA),
        )
        pq.write_table(rows, os.path.join(stage, f"part-00000-{txid}.parquet"))
        return stage

    def recover(self) -> None:
        """``SparkEngine.recover``, run by ``run_once`` under its locks."""
        self.engine.recover()

    def _select_df(self) -> DataFrame:
        """Resolve the custom SQL body to the SELECT that produces the
        insert rows — validated BEFORE anything is published.

        The reference's documented body is ``INSERT INTO $dest_table
        SELECT ... FROM work;`` (streaming_load.rb:203). The loader owns
        the dest append (joint-atomic commit), so that wrapper is
        converted to its inner SELECT; executing it as-is would append
        dest outside the transaction (and double-append).
        """
        stmts = split_statements(self.sql)
        if not stmts:
            raise ParameterError("streaming_load: empty sql body")
        *setup, last = stmts
        m = re.match(r"insert\s+into\s+([\w.]+)\s+(.*)\Z", last, re.S | re.I)
        if m:
            if TableSpec.parse(m.group(1)) != TableSpec.parse(self.dest_table):
                raise ParameterError(
                    f"streaming_load sql inserts into {m.group(1)!r}, "
                    f"but dest-table is {self.dest_table!r}"
                )
            last = m.group(2)
        kind = last.split(None, 1)[0].lower() if last.split() else ""
        if kind not in ("select", "with", "("):
            raise ParameterError(
                "streaming_load sql must end with a SELECT "
                "(or 'INSERT INTO <dest-table> SELECT ...')"
            )
        for s in setup:
            self.engine.execute_statement(s)
        return self.engine.sql(last)

    def run_once(self, load_only: bool = False) -> dict:
        """One micro-batch. Returns counters.

        Without a custom SQL the batch's files are parsed and written
        once (one Spark job, at most one part file per core) and the
        same Parquet files become the dest delta; one publish commits
        the work table, the dest and the log. A custom SQL reads the
        work table, which is therefore published before it runs."""
        with self.engine.locked(*filter(None, (self.dest_table, self.log_table, self.work_table))):
            self.recover()
            candidates = self.queue.queued_files()
            new = self.new_files(candidates)
            skipped = len(candidates) - len(new)
            if not new:
                return {"loaded_files": 0, "skipped_files": skipped, "rows": 0}

            spark = self.engine.spark
            reader = spark.read
            # Schema hint for the RAW files. With a custom SQL the dest
            # schema describes the TRANSFORMED rows, not the files — forcing
            # it onto the reader would parse every mismatched field as NULL
            # and silently commit garbage (exactly-once then prevents the
            # re-load). The work table's (.ct-defined) schema is the raw
            # shape in that case; without a custom SQL the dest schema is.
            schema_src = None
            if self.sql:
                if self.work_table and self.engine.table_exists(self.work_table):
                    schema_src = self.engine.table(self.work_table).schema
            elif self.engine.table_exists(self.dest_table):
                schema_src = self.engine.table(self.dest_table).schema
            if schema_src is not None:
                reader = reader.schema(schema_src)
            # DataFrameReader.parquet is varargs-only; csv/json accept a list
            # (their second positional is schema — never splat those)
            df: DataFrame = (
                reader.parquet(*new) if self.fmt == "parquet" else getattr(reader, self.fmt)(new)
            )

            txid = uuid.uuid4().hex[:12]
            moves = []
            if self.sql:
                if self.work_table:  # the custom SQL reads the work table
                    self.engine.save_table(df, self.work_table, mode="overwrite")
                insert_df = self._select_df()
                dest_stage, rows = self._stage_delta(insert_df, self.dest_table, txid)
            else:
                # a read packs several small files into each task; without
                # the coalesce each task would add a part file to the dest
                insert_df = df.coalesce(spark.sparkContext.defaultParallelism)
                if self.work_table:
                    work_stage, rows = self._stage_delta(insert_df, self.work_table, txid)
                    dest_stage = self._link_delta(work_stage, self.dest_table, txid)
                    moves.append(("replace", work_stage, self.engine.table_dir(self.work_table)))
                else:  # skip-work mode loads straight into dest
                    dest_stage, rows = self._stage_delta(insert_df, self.dest_table, txid)
            log_stage = self._stage_log_delta(new, txid)
            # the dest's schema after the append: the delta's own when the
            # delta is the whole table or matches what the table already
            # holds; otherwise the dest is inferred when it is registered
            dest_schema = insert_df.schema
            if self.engine.table_exists(self.dest_table) and (
                self.engine.known_schema(self.dest_table) != dest_schema
            ):
                dest_schema = None

            self.engine.publish(moves + [
                ("merge", dest_stage, self.engine.table_dir(self.dest_table)),
                ("merge", log_stage, self.engine.table_dir(self.log_table)),
            ])
            if moves:
                self.engine.register(self.work_table, df.schema)
            self.engine.register(self.dest_table, dest_schema)
            self.engine.register(self.log_table, _LOG_SCHEMA)

            moved = 0
            if not load_only:
                for p in new:
                    self.queue.dequeue(p)
                    moved += 1
            return {
                "loaded_files": len(new),
                "skipped_files": skipped,
                "rows": rows,
                "dequeued": moved,
            }


@jobclass("streaming_load")
def streaming_load(job: Job) -> JobResult:
    """jobclass/streaming_load.rb — micro-batch exactly-once loader."""
    qpath = job.require("queue-path")
    ppath = job.param("persistent-path", job.require("queue-path") + "/done/%Y/%m/%d")
    fname = job.require("file-name")
    if "://" in qpath:  # any Hadoop URI (s3a://, hdfs://, file://)
        queue = HadoopFileQueue(job.engine.spark, qpath, ppath, fname)
    else:
        queue = FileQueue(queue_path=qpath, persistent_path=ppath, file_name=fname)
    dest = job.require("dest-table")
    loader = StreamingLoader(
        engine=job.engine,
        queue=queue,
        dest_table=dest,
        log_table=job.param("log-table", f"{dest}_l"),
        work_table=None if job.bool_param("skip-work") else job.param("work-table", f"{dest}_wk"),
        fmt=str(job.param("format", "json")),
        sql=job.sql,
        process_id=str(os.getpid()),
    )
    if job.bool_param("noop"):
        files = queue.queued_files()
        return JobResult(message=f"noop: {len(files)} queued file(s)")
    if job.bool_param("dequeue-only"):
        queued = queue.queued_files()
        # the same bounded log probe a load runs: O(queue), not O(log)
        unloaded = set(loader.new_files(queued))
        moved = 0
        for p in queued:
            if p not in unloaded:
                queue.dequeue(p)
                moved += 1
        return JobResult(message=f"dequeued {moved} file(s)")
    stats = loader.run_once(load_only=job.bool_param("load-only"))
    return JobResult(
        message=(
            f"loaded {stats['loaded_files']} file(s) "
            f"({stats['skipped_files']} already loaded) into {dest}"
        ),
        rows=stats["rows"],
    )
