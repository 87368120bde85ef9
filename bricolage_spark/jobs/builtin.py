"""Built-in job classes (SURVEY.md §2.1 — jobclass/*.rb re-expressed).

Each docstring cites the reference job class whose observable behavior it
reproduces; the *implementation* is Spark-native (stage-and-swap writes
replace Redshift transactions, DataFrame reads replace COPY).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time

from pyspark.sql import functions as F

from bricolage_spark.ddl import parse_ct
from bricolage_spark.engine import TableSpec
from bricolage_spark.exception import JobFailure, ParameterError
from bricolage_spark.jobs import Job, JobResult, expand_glob, jobclass
from bricolage_spark.parameters import (
    BoolParam,
    EnumParam,
    ParamSchema,
    StringParam,
    TableParam,
)

_FORMATS = ("tsv", "csv", "json", "parquet", "orc")

# ---------------------------------------------------------------------------
# trivial classes
# ---------------------------------------------------------------------------


@jobclass("noop", isolate_safe=True)
def noop(job: Job) -> JobResult:
    """jobclass/noop.rb:1-13 — success/failure for DAG testing."""
    if job.bool_param("failure"):
        raise JobFailure("failure parameter enabled")
    return JobResult(message="noop")


@jobclass("exec", isolate_safe=True)
def exec_(job: Job) -> JobResult:
    """jobclass/exec.rb:1-20 — run an OS command with env."""
    args = job.require("args")
    if isinstance(args, str):
        args = args.split()
    args = [job.variables.expand(str(a)) for a in args]
    env = dict(os.environ)
    for k, v in (job.param("env") or {}).items():
        env[str(k)] = job.variables.expand(str(v))
    proc = subprocess.run(args, env=env, capture_output=True, text=True)
    if proc.returncode != 0:
        raise JobFailure(
            f"command failed ({proc.returncode}): {' '.join(args)}: {proc.stderr[-500:]}"
        )
    return JobResult(message=proc.stdout[-500:])


@jobclass("wait-file", isolate_safe=True)
def wait_file(job: Job) -> JobResult:
    """jobclass/wait-file.rb:1-48 — poll until a file exists, with timeout."""
    target = job.param("dest-file") or job.require("src-file")
    max_minutes = float(job.param("max-wait-minutes", 1))
    poll = float(job.param("poll-seconds", 1))
    deadline = time.monotonic() + max_minutes * 60
    while time.monotonic() < deadline:
        if expand_glob(target) or os.path.exists(target):
            return JobResult(message=f"found: {target}")
        time.sleep(poll)
    raise JobFailure(f"timed out waiting for file: {target}")


# ---------------------------------------------------------------------------
# SQL classes
# ---------------------------------------------------------------------------


def _post_ops(job: Job, dest: str | None) -> None:
    """Shared analyze/vacuum/grant tail (sql.rb, insert.rb, ...)."""
    if dest is None:
        return
    if job.bool_param("analyze"):
        job.engine.analyze(dest)
    if job.bool_param("vacuum") or job.bool_param("vacuum-sort"):
        job.engine.vacuum(dest)
    # grant: no ACLs in OSS Spark → parity is a logged no-op
    _ = job.param("grant")


@jobclass("sql")
def sql_job(job: Job) -> JobResult:
    """jobclass/sql.rb:1-31 — run a SQL script with optional truncate
    wrapper + analyze/vacuum/grant."""
    dest = job.param("dest-table")
    if job.bool_param("truncate") and dest and job.engine.table_exists(dest):
        job.engine.truncate(dest)
    job.engine.execute_script(job.read_sql_param())
    _post_ops(job, dest)
    return JobResult(message=f"sql done (dest={dest})")


@jobclass("adhoc")
def adhoc(job: Job) -> JobResult:
    """jobclass/adhoc.rb:1-20 — run SQL, no table management."""
    df = job.engine.execute_script(job.read_sql_param())
    n = df.count() if df is not None else None
    return JobResult(message="adhoc done", rows=n)


@jobclass("create")
def create(job: Job) -> JobResult:
    """jobclass/create.rb:1-25 — DROP IF EXISTS + CREATE from .ct."""
    dest = job.require("dest-table")
    ct_path = job.resolve_path(job.require("table-def"))
    with open(ct_path) as f:
        tdef = parse_ct(job.variables.expand(f.read()))
    if job.bool_param("drop", True):
        job.engine.drop_table(dest, force=True)
    empty = job.engine.spark.createDataFrame([], tdef.schema)
    job.engine.save_table(empty, dest, mode="overwrite", sort_by=tdef.sortkeys or None)
    _post_ops(job, dest)
    return JobResult(message=f"created {dest}")


@jobclass("createview")
def createview(job: Job) -> JobResult:
    """jobclass/createview.rb:1-24 — DROP VIEW IF EXISTS + CREATE VIEW."""
    dest = job.require("dest-table")
    if job.bool_param("drop", True):
        job.engine.drop_view(dest)
    sql = job.read_sql_param()
    # accept either a bare SELECT or a full CREATE VIEW statement
    stripped = sql.strip().rstrip(";")
    m_sel = stripped.lower().startswith("select")
    if m_sel:
        job.engine.create_view(dest, stripped)
    else:
        job.engine.execute_script(sql)
    return JobResult(message=f"created view {dest}")


@jobclass("insert")
def insert(job: Job) -> JobResult:
    """jobclass/insert.rb:1-35 — (DROP+CREATE | TRUNCATE) + INSERT…SELECT."""
    dest = job.require("dest-table")
    if job.bool_param("drop") and job.param("table-def"):
        create(job)
    elif job.bool_param("truncate") and job.engine.table_exists(dest):
        job.engine.truncate(dest)
    job.engine.execute_script(job.read_sql_param())
    _post_ops(job, dest)
    # rows written by the script's last INSERT, observed for free during
    # the write (df.observe in save_table) — NOT a post-write count() of
    # dest, which is a full-table scan per insert at 100 TB and reports
    # table size rather than rows inserted anyway
    rows = job.engine.last_insert_rows
    return JobResult(message=f"insert into {dest}", rows=rows)


@jobclass(
    "insert-delta",
    schema=ParamSchema(
        [
            TableParam("dest-table"),
            StringParam("delete-cond"),
            BoolParam("analyze", optional=True, default=False),
            BoolParam("vacuum", optional=True, default=False),
        ]
    ),
)
def insert_delta(job: Job) -> JobResult:
    """jobclass/insert-delta.rb:1-31 — idempotent partition upsert.

    DELETE FROM dest WHERE delete-cond; INSERT…SELECT — atomically:
    old-minus-cond ∪ new-rows staged and published as one overwrite,
    under dest's writer lock from the read to the publish;
    after a crash the next engine open leaves dest whole (old or new,
    never missing), so a re-run keeps every row outside delete-cond
    (the reference gets this from a Redshift transaction).
    """
    dest = job.require("dest-table")
    cond = job.require("delete-cond")
    select_sql = job.read_sql_param()
    new_rows = job.engine.execute_script(select_sql)
    if new_rows is None:
        raise ParameterError("insert-delta SQL must end with a SELECT")
    with job.engine.locked(dest):  # no append lands between read and publish
        if job.engine.table_exists(dest):
            # SQL DELETE semantics: remove rows where cond IS TRUE only —
            # rows where cond is NULL (e.g. NULL dt vs dt = '2024-01-01')
            # must survive the delta rewrite.
            kept = job.engine.table(dest).filter(f"NOT coalesce(({cond}), false)")
            final = kept.unionByName(new_rows)
        else:
            final = new_rows
        n = job.engine.save_table(final, dest, mode="overwrite")
    _post_ops(job, dest)
    return JobResult(message=f"insert-delta into {dest} (cond: {cond})", rows=n)


@jobclass("rebuild-drop")
def rebuild_drop(job: Job) -> JobResult:
    """jobclass/rebuild-drop.rb:1-41 — full in-place rebuild."""
    dest = job.require("dest-table")
    df = job.engine.execute_script(job.read_sql_param())
    if df is None:
        raise ParameterError("rebuild SQL must end with a SELECT")
    n = job.engine.save_table(df, dest, mode="overwrite")
    _post_ops(job, dest)
    return JobResult(message=f"rebuilt {dest}", rows=n)


@jobclass("rebuild-rename")
def rebuild_rename(job: Job) -> JobResult:
    """jobclass/rebuild-rename.rb:1-53 — zero-downtime rebuild.

    Build ``<dest>_wk``, then one publish: dest → ``<dest>_old``
    (previous _old dropped), ``<dest>_wk`` → dest — a crash leaves a
    dest. The reference regex-rewrites ``$dest_table`` to the work table
    (rebuild-rename.rb:32-35); here the SQL builds a DataFrame so no
    rewrite is needed — the staged write IS the work table.
    """
    engine, dest = job.engine, job.require("dest-table")
    spec = TableSpec.parse(dest)
    wk = TableSpec(spec.schema, spec.name + "_wk")
    old = TableSpec(spec.schema, spec.name + "_old")
    df = engine.execute_script(job.read_sql_param())
    if df is None:
        raise ParameterError("rebuild SQL must end with a SELECT")
    with engine.locked(spec, wk, old):
        n = engine.save_table(df, wk, mode="overwrite")
        schemas = engine.known_schema(spec), engine.known_schema(wk)
        live = engine.table_dir(spec) if engine.table_exists(spec) else None
        engine.publish([("replace", live, engine.table_dir(old)),
                        ("replace", engine.table_dir(wk), engine.table_dir(spec))])
        for t, schema in ((wk, None), (old, schemas[0]), (spec, schemas[1])):
            if engine.table_exists(t):
                engine.register(t, schema)
            else:
                engine.drop_view(t)
    _post_ops(job, str(spec))
    return JobResult(message=f"rebuilt {dest} via rename (old kept)", rows=n)


# ---------------------------------------------------------------------------
# load / unload (COPY / UNLOAD parity)
# ---------------------------------------------------------------------------

_FORMAT_ALIASES = {
    "tsv": "csv",
    "csv": "csv",
    "json": "json",
    "parquet": "parquet",
    "orc": "orc",
}


def _parse_load_options(value) -> dict:
    """COPY options as a mapping OR the reference's string form
    (psqldatasource.rb:501-517): "a=1,b,c=false" — bare keys are true,
    digit strings become ints."""
    if not value:
        return {}
    if isinstance(value, str):
        parsed: dict = {}
        for pair in value.split(","):
            k, _, v = pair.strip().partition("=")
            parsed[k] = (
                True if v in ("", "true")
                else False if v == "false"
                else int(v) if v.isdigit()
                else v
            )
        return parsed
    return {str(k): v for k, v in value.items()}


@jobclass(
    "load",
    schema=ParamSchema(
        [
            TableParam("dest-table"),
            StringParam("src-file"),
            EnumParam("format", values=_FORMATS, optional=True, default="tsv"),
            BoolParam("drop", optional=True, default=False),
            BoolParam("truncate", optional=True, default=False),
        ]
    ),
)
def load(job: Job) -> JobResult:
    """jobclass/load.rb:1-72 — COPY parity.

    Reads tsv/csv/json(+gzip transparent)/parquet from ``src-file``
    (path or glob; the S3 data source of the reference maps to any
    Hadoop-visible URI — s3a:// on a real cluster, local paths here).
    Patterns: drop-create-load (drop+table-def), truncate-load
    (truncate: true), append-load (default). COPY options map to reader
    options (psqldatasource.rb:476-601):
    delimiter→sep, emptyasnull→nullValue '', maxerror>0→PERMISSIVE with
    malformed records quarantined to ``{dest}__errors`` and a hard
    failure once the count reaches the limit (COPY MAXERROR contract:
    errors >= maxerror fails),
    acceptanydate/dateformat→dateFormat, json 'auto'→schema-on-read.
    """
    dest = job.require("dest-table")
    src = job.require("src-file")
    fmt = _FORMAT_ALIASES.get(str(job.param("format", "tsv")).lower())
    if not fmt:
        raise ParameterError(f"unknown load format: {job.param('format')}")
    options = _parse_load_options(job.param("options"))

    schema = None
    tdef = None
    if job.param("table-def"):
        with open(job.resolve_path(job.param("table-def"))) as f:
            tdef = parse_ct(job.variables.expand(f.read()))
        schema = tdef.schema
    elif job.engine.table_exists(dest):
        schema = job.engine.table(dest).schema

    # MAXERROR parity (psqldatasource.rb:476-601 → Redshift COPY MAXERROR):
    # maxerror > 0 tolerates up to maxerror-1 malformed records — they are
    # QUARANTINED to ``{dest}__errors`` (raw line + load metadata) and the
    # job FAILS when the count reaches the limit (Redshift fails at
    # errors >= maxerror). maxerror absent/0 keeps FAILFAST: the first
    # malformed record aborts the load.
    maxerror = int(options.get("maxerror", 0) or 0)
    corrupt_col = "_corrupt_record"
    quarantine = maxerror > 0 and fmt in ("csv", "json") and schema is not None
    reader = job.engine.spark.read
    if quarantine:
        from pyspark.sql import types as _T

        reader = reader.schema(
            _T.StructType(list(schema.fields) + [_T.StructField(corrupt_col, _T.StringType())])
        ).option("columnNameOfCorruptRecord", corrupt_col)
    elif schema is not None:
        reader = reader.schema(schema)
    if fmt in ("csv", "json"):
        # the FAILFAST/PERMISSIVE contract applies to BOTH parsed text
        # formats: json's Spark default is PERMISSIVE, which would turn a
        # malformed record into an all-NULL row instead of aborting —
        # the docstring's "maxerror absent/0 keeps FAILFAST" promise
        reader = reader.option("mode", "PERMISSIVE" if quarantine else "FAILFAST")
    if fmt == "csv":
        sep = str(options.get("delimiter", "\t" if job.param("format", "tsv") == "tsv" else ","))
        reader = reader.option("sep", sep)
        if options.get("emptyasnull"):
            reader = reader.option("nullValue", "")
        if options.get("dateformat") and options["dateformat"] != "auto":
            reader = reader.option("dateFormat", str(options["dateformat"]))
        if options.get("header"):
            reader = reader.option("header", "true")
    paths = expand_glob(src) if any(c in src for c in "*?[") else [src]
    if not paths:
        raise JobFailure(f"no input files match: {src}")
    if fmt == "json" and job.param("jsonpath"):
        # Redshift jsonpaths-file parity (load.rb:10, psqldatasource.rb
        # COPY json 'path'): {"jsonpaths": ["$.a", "$['b'].c", ...]} maps
        # POSITIONALLY onto the table columns. Spark mapping: read raw
        # lines, extract each column with get_json_object (same $.x /
        # $['x'] syntax), cast to the declared type — row-local, no
        # schema inference pass.
        import json as _json

        with open(job.resolve_path(job.param("jsonpath"))) as f:
            jpaths = _json.load(f).get("jsonpaths")
        if not isinstance(jpaths, list) or not jpaths:
            raise ParameterError("jsonpaths file must contain a 'jsonpaths' list")
        if schema is None:
            raise ParameterError("jsonpath load requires table-def or an existing dest table")
        if len(jpaths) != len(schema.fields):
            raise ParameterError(
                f"jsonpaths count ({len(jpaths)}) != column count ({len(schema.fields)})"
            )
        raw = job.engine.spark.read.text(paths)
        df = raw.select(
            *[
                F.get_json_object(F.col("value"), str(p)).cast(fld.dataType).alias(fld.name)
                for p, fld in zip(jpaths, schema.fields)
            ]
        )
        quarantine = False
    else:
        # DataFrameReader.parquet is varargs-only; csv/json/orc accept a list
        # (their second positional is schema, so never splat those).
        df = reader.parquet(*paths) if fmt == "parquet" else getattr(reader, fmt)(paths)
    n_bad = 0
    raw_batch = None
    if quarantine:
        # persist before splitting: Spark disallows filtering on ONLY the
        # internal corrupt-record column of a raw file scan — and the
        # good/bad split reads the batch twice anyway (micro-batch sized).
        # Keep the persisted frame in its own name: the later filter/cast
        # reassignments produce derived frames whose unpersist is a no-op.
        raw_batch = df.persist()
        bad = raw_batch.filter(F.col(corrupt_col).isNotNull()).select(
            F.col(corrupt_col).alias("raw_record"),
            F.lit(src).alias("src_file"),
            F.current_timestamp().alias("load_ts"),
        )
        n_bad = bad.count()
        # Redshift COPY contract: the load fails when the error count
        # REACHES maxerror (>=), not only when it exceeds it
        if n_bad >= maxerror:
            raw_batch.unpersist(blocking=False)
            raise JobFailure(
                f"load aborted: {n_bad} malformed record(s) reach maxerror "
                f"{maxerror} (quarantine not written)"
            )
        if n_bad:
            job.engine.save_table(bad, f"{dest}__errors", mode="append")
        df = raw_batch.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    if schema is not None:
        df = df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])

    if job.bool_param("drop") and tdef is not None:
        job.engine.drop_table(dest, force=True)
        mode = "overwrite"
    elif job.bool_param("truncate"):
        mode = "overwrite"
    else:
        mode = "append"
    n = job.engine.save_table(
        df, dest, mode=mode, sort_by=(tdef.sortkeys if tdef else None)
    )
    if raw_batch is not None:
        raw_batch.unpersist(blocking=False)
    _post_ops(job, dest)
    msg = f"loaded {len(paths)} file(s) into {dest}"
    if n_bad:
        msg += f" ({n_bad} malformed record(s) quarantined to {dest}__errors)"
    return JobResult(message=msg, rows=n)


@jobclass(
    "unload",
    schema=ParamSchema(
        [
            StringParam("dest-file"),
            EnumParam("format", values=_FORMATS, optional=True, default="tsv"),
        ]
    ),
)
def unload(job: Job) -> JobResult:
    """jobclass/unload.rb:1-30 — UNLOAD parity: SELECT → files."""
    dest_file = job.require("dest-file")
    fmt = _FORMAT_ALIASES.get(str(job.param("format", "tsv")).lower())
    if not fmt:
        raise ParameterError(f"unknown unload format: {job.param('format')}")
    df = job.engine.execute_script(job.read_sql_param())
    if df is None:
        raise ParameterError("unload SQL must end with a SELECT")
    options = _parse_load_options(job.param("options"))
    writer = df.write.mode("overwrite")
    if fmt == "csv":
        sep = str(options.get("delimiter", "\t" if job.param("format", "tsv") == "tsv" else ","))
        writer = writer.option("sep", sep)
        if options.get("header"):
            writer = writer.option("header", "true")
    if options.get("gzip"):
        writer = writer.option("compression", "gzip")
    getattr(writer, fmt)(dest_file)
    return JobResult(message=f"unloaded to {dest_file}")


@jobclass("s3-put", isolate_safe=True)
def s3_put(job: Job) -> JobResult:
    """jobclass/s3-put.rb + s3datasource.rb:143-193 — upload glob to a
    bucket prefix. Without AWS creds in this environment the "bucket" is
    any filesystem/Hadoop URI directory; the glob/remove semantics match.
    """
    src = job.require("src-file")
    dest = job.require("dest-file")
    remove = job.bool_param("remove")
    paths = expand_glob(src) if any(c in src for c in "*?[") else [src]
    if not paths:
        raise JobFailure(f"no files match: {src}")
    os.makedirs(dest, exist_ok=True)
    for p in paths:
        shutil.copy2(p, os.path.join(dest, os.path.basename(p)))
        if remove:
            os.remove(p)
    return JobResult(message=f"put {len(paths)} file(s) to {dest}")


@jobclass("my-import-delta")
def my_import_delta(job: Job) -> JobResult:
    """Compatibility: the reference fixture's custom class
    (test/home/subsys/my-import-delta.sql.job) — a dump+delta-load; the
    delta semantics are insert-delta's."""
    from bricolage_spark.jobs.builtin import insert_delta

    return insert_delta(job)
