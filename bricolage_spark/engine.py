"""Engine: a Parquet warehouse + the task verbs job classes compose.

Maps the reference's PSQLTask verb set (lib/bricolage/psqldatasource.rb
§2.2 of SURVEY.md) onto Spark:

- a *table* ``[schema.]name`` is a Parquet directory
  ``{warehouse}/{schema}/{name}`` registered as temp view
  ``schema__name`` (and plain ``name`` for the default schema);
- multi-statement transactionality (psqldatasource.rb:386-390) becomes
  ``publish``, the one code path that changes a table directory: stage
  in a hidden sibling (``<table>.__stage__<id>``), rename a manifest
  into ``.streaming_load_tx/`` (the commit point), apply, remove it —
  under per-table writer locks. Opening the engine rolls committed
  manifests forward and sweeps uncommitted siblings;
- every table read goes through one path that reuses the schema this
  engine last read or wrote for the directory while the directory's
  ``(st_ino, st_mtime_ns)`` stamp is unchanged, so a read after the
  engine's own write runs no Parquet footer-inference job. Any change to
  the directory — a swap, an appended file, a write by another engine —
  changes the stamp, and the next read infers again;
- ``truncate`` / ``drop`` / ``rename_table`` / ``analyze`` / ``vacuum``
  (compaction) keep their reference semantics.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import uuid
from contextlib import ExitStack, contextmanager, suppress

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bricolage_spark.exception import JobFailure, ParameterError
from bricolage_spark.locks import DEFAULT_TIMEOUT, LockTimeout, serialized

# a table's uncommitted siblings: stages (the loader's are ``__delta__``)
# and trash; and the table locks each thread holds
_ARTIFACT = re.compile(r"\.__(stage|delta|old)__")
_held = threading.local()


def _stamp(path: str) -> tuple[int, int]:
    """A directory's identity and last change: a swap (new inode) or any
    file added, removed or renamed in it (new mtime) changes it."""
    st = os.stat(path)
    return st.st_ino, st.st_mtime_ns


def split_statements(sql_text: str) -> list[str]:
    """Split a SQL script on ``;`` (string-literal aware), dropping
    ``--`` line comments so statement-kind detection sees the real
    first keyword (header metadata lines would otherwise mask it)."""
    # strip -- comments outside string literals, line by line
    lines = []
    for line in sql_text.splitlines():
        out_chars, in_str = [], False
        i = 0
        while i < len(line):
            ch = line[i]
            if ch == "'":
                in_str = not in_str
            if not in_str and ch == "-" and line[i : i + 2] == "--":
                break
            out_chars.append(ch)
            i += 1
        lines.append("".join(out_chars))
    text = "\n".join(lines)

    out, buf, in_str = [], [], False
    for ch in text:
        if ch == "'":
            in_str = not in_str
            buf.append(ch)
        elif ch == ";" and not in_str:
            s = "".join(buf).strip()
            if s:
                out.append(s)
            buf = []
        else:
            buf.append(ch)
    s = "".join(buf).strip()
    if s:
        out.append(s)
    return out


class TableSpec:
    """``[schema.]table`` (sqlstatement.rb:302-349)."""

    def __init__(self, schema: str | None, name: str):
        self.schema = schema or "default"
        self.name = name

    @classmethod
    def parse(cls, s: str) -> "TableSpec":
        parts = str(s).split(".")
        if len(parts) == 1:
            return cls(None, parts[0])
        if len(parts) == 2:
            return cls(parts[0] or None, parts[1])
        raise ParameterError(f"bad table spec: {s!r}")

    @property
    def view_name(self) -> str:
        return (
            self.name if self.schema == "default" else f"{self.schema}__{self.name}"
        )

    def __str__(self) -> str:
        return self.name if self.schema == "default" else f"{self.schema}.{self.name}"

    def __eq__(self, other) -> bool:
        return isinstance(other, TableSpec) and str(self) == str(other)

    def __hash__(self) -> int:
        return hash(str(self))


class SparkEngine:
    """SparkSession + warehouse of Parquet tables."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        # rows written by the most recent INSERT statement this engine
        # executed (observed during the write itself) — how job classes
        # report inserted-row counts without a post-write table scan
        self.last_insert_rows: int | None = None
        # table dir -> ((st_ino, st_mtime_ns), schema) as of this engine's
        # last read or write of it; see ``_read``
        self._schemas: dict[str, tuple[tuple[int, int], StructType]] = {}
        self._tx_dir = os.path.join(warehouse, ".streaming_load_tx")
        os.makedirs(self._tx_dir, exist_ok=True)
        self.recover()

    # -- paths / catalog ----------------------------------------------------

    def table_dir(self, spec: TableSpec | str) -> str:
        spec = TableSpec.parse(spec) if isinstance(spec, str) else spec
        return os.path.join(self.warehouse, spec.schema, spec.name)

    def table_exists(self, spec: TableSpec | str) -> bool:
        return os.path.isdir(self.table_dir(spec))

    def register(self, spec: TableSpec | str, schema: StructType | None = None) -> None:
        """(Re-)register the table's temp view. ``schema`` is the schema
        the caller knows the directory's files to have (a writer's own
        frame schema); without it the engine's remembered or inferred
        schema is used."""
        spec = TableSpec.parse(spec) if isinstance(spec, str) else spec
        self._read(self.table_dir(spec), schema).createOrReplaceTempView(spec.view_name)

    def _entries(self):  # (schema, name) of every schema dir entry
        for schema in sorted(os.listdir(self.warehouse)):
            sdir = os.path.join(self.warehouse, schema)
            if not schema.startswith(".") and os.path.isdir(sdir):
                yield from ((schema, name) for name in sorted(os.listdir(sdir)))

    def register_all(self) -> list[str]:
        names = []
        for schema, name in self._entries():
            # skip engine-internal siblings (<t>.__bucketed__ data,
            # <t>.__retired__ twins, another process's in-flight stage):
            # dotted names are not valid temp-view names
            if "." not in name and os.path.isdir(os.path.join(self.warehouse, schema, name)):
                self.register(TableSpec(schema, name))
                names.append(str(TableSpec(schema, name)))
        return names

    def table(self, spec: TableSpec | str) -> DataFrame:
        if not self.table_exists(spec):
            raise JobFailure(f"table not found: {spec}")
        return self._read(self.table_dir(spec))

    def known_schema(self, spec: TableSpec | str) -> StructType | None:
        """The schema this engine last read or wrote for the table, if
        its directory has not changed since; else None. Runs no Spark
        work."""
        path = self.table_dir(spec)
        hit = self._schemas.get(path)
        if hit is None or not os.path.isdir(path) or hit[0] != _stamp(path):
            return None
        return hit[1]

    def _read(self, path: str, schema: StructType | None = None) -> DataFrame:
        """The one Parquet read path behind ``table`` and ``register``.

        Without ``schema``, a schema remembered under the directory's
        current stamp is reused; otherwise Spark infers it from a footer
        (one Spark job). The schema Spark resolves is remembered under
        the stamp taken before the read, so a change racing the read
        leaves a stale stamp that the next read re-infers past."""
        stamp = _stamp(path)
        if schema is None:
            hit = self._schemas.get(path)
            schema = hit[1] if hit is not None and hit[0] == stamp else None
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        df = reader.parquet(path)
        self._schemas[path] = (stamp, df.schema)
        return df

    # -- SQL ---------------------------------------------------------------

    def sql(self, statement: str) -> DataFrame:
        """Run one SQL statement (tables must be registered as views).

        ``schema.table`` references are rewritten to the registered view
        names (Spark temp views are single-part)."""
        return self.spark.sql(self._rewrite_table_refs(statement))

    def _rewrite_table_refs(self, statement: str) -> str:
        # only rewrite schema.table identifiers we actually know
        known = {
            v: v.replace(".", "__")
            for v in self._known_schema_tables()
        }

        def sub(m: re.Match) -> str:
            return known.get(m.group(0), m.group(0))

        return re.sub(r"\b\w+\.\w+\b", sub, statement) if known else statement

    def _known_schema_tables(self) -> list[str]:
        return [f"{s}.{t}" for s, t in self._entries() if s != "default" and "." not in t]

    # -- transactional write protocol --------------------------------------

    def save_table(
        self,
        df: DataFrame,
        dest: TableSpec | str,
        mode: str = "overwrite",
        sort_by: list[str] | None = None,
        partition_by: list[str] | None = None,
    ) -> int:
        """Staged write (the reference's transaction emulation): write
        to a stage dir under the table's writer lock, then ``publish``
        it — overwrite replaces the live dir, append merges the stage's
        files into it.

        Returns the row count written, observed for free during the write
        job itself (``df.observe``) — no post-write re-scan of the table
        (at 100 TB an extra count() per insert/rebuild is a full-table
        scan we must not pay).
        """
        from pyspark.sql import Observation

        spec = TableSpec.parse(dest) if isinstance(dest, str) else dest
        if mode not in ("overwrite", "append"):
            raise ParameterError(f"unknown write mode: {mode}")
        final = self.table_dir(spec)
        if sort_by:
            df = df.sortWithinPartitions(*sort_by)
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows_written"))
        writer = df.write
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        with self.locked(spec):
            prior = self.known_schema(spec)
            stage = f"{final}.__stage__{uuid.uuid4().hex[:8]}"
            writer.mode("overwrite").parquet(stage)
            self.publish([("replace" if mode == "overwrite" else "merge", stage, final)])
            # the schema the written directory is known to have: the
            # frame's own for a plain overwrite (partitioning moves the
            # partition columns and types them by inference), the
            # remembered one for an append of exactly that schema;
            # anything else is inferred
            if mode == "overwrite":
                known = None if partition_by else df.schema
            else:
                known = prior if prior == df.schema else None
            self.register(spec, known)
        return int(obs.get["rows_written"])

    def locked(self, *tables: TableSpec | str):
        """Hold the writer lock of every named table."""
        return self._locked([self.table_dir(t) for t in tables])

    @contextmanager
    def _locked(self, paths, timeout: float = DEFAULT_TIMEOUT):
        """``locks.serialized`` on ``.locks/<schema>.<table>`` for each
        table ``paths`` belong to, in sorted order; re-entrant per thread."""
        held = _held.__dict__.setdefault("locks", set())
        with ExitStack() as stack:
            for lock in sorted(map(self._lock_path, filter(None, paths))):
                if lock not in held:
                    os.makedirs(os.path.dirname(lock), exist_ok=True)
                    stack.enter_context(serialized(lock, timeout, poll=0.05))
                    held.add(lock)
                    stack.callback(held.discard, lock)
            yield

    def _lock_path(self, path: str) -> str:
        schema, name = os.path.relpath(path, self.warehouse).split(os.sep)[:2]
        return os.path.join(self.warehouse, ".locks", f"{schema}.{name.split('.')[0]}")

    def publish(self, moves: list[tuple[str, str | None, str]]) -> None:
        """Apply ``moves`` all or nothing, under the locks of every table
        touched: the one way the engine changes a table directory.
        ``("replace", src, dest)`` renames ``src`` over ``dest`` (None
        drops it); ``("merge", src, dest)`` moves ``src``'s files in."""
        with self._locked([p for m in moves for p in m[1:]]):
            manifest = {"txid": uuid.uuid4().hex[:12], "moves": [list(m) for m in moves]}
            path = os.path.join(self._tx_dir, f"{manifest['txid']}.json")
            self._write_manifest(path, manifest)  # the commit point
            self._apply_moves(path, manifest)

    def _write_manifest(self, path: str, manifest: dict) -> None:
        # the temporary copy is a stage sibling: recovery sweeps it
        tmp = f"{manifest['moves'][0][2]}.__stage__{manifest['txid']}.json"
        os.makedirs(os.path.dirname(tmp), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, path)

    def _apply_moves(self, path: str, manifest: dict) -> None:
        """Apply a committed manifest from its recorded progress on, then
        remove it. Every step is idempotent on replay; the progress count
        keeps a replay from redoing a move a later one built on."""
        moves = manifest["moves"]
        for i in range(manifest.get("done", 0), len(moves)):
            kind, src, dest = moves[i]
            trash = f"{dest}.__old__{manifest['txid']}"
            if kind == "merge":  # a partitioned append lands in col=val/ dirs
                for root, dirs, files in os.walk(src):
                    dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                    out = os.path.normpath(os.path.join(dest, os.path.relpath(root, src)))
                    os.makedirs(out, exist_ok=True)
                    for f in files:
                        if not f.startswith(("_", ".")):  # not _SUCCESS, .crc
                            os.rename(os.path.join(root, f), os.path.join(out, f))
                trash = src  # the emptied stage
            elif src is None or os.path.exists(src):
                if os.path.exists(dest):
                    os.rename(dest, trash)
                if src is not None:
                    os.makedirs(os.path.dirname(dest), exist_ok=True)
                    os.rename(src, dest)
            shutil.rmtree(trash, ignore_errors=True)
            if i + 1 < len(moves):
                self._write_manifest(path, {**manifest, "done": i + 1})
        os.remove(path)

    def _manifests(self):  # (path, manifest, the paths its moves touch)
        for name in sorted(os.listdir(self._tx_dir)):
            with suppress(FileNotFoundError), open(os.path.join(self._tx_dir, name)) as f:
                manifest = json.load(f)
                yield f.name, manifest, [p for m in manifest["moves"] for p in m[1:]]

    def recover(self) -> None:
        """Roll committed manifests forward, then sweep uncommitted
        siblings, each under its tables' locks (skipping tables a live
        process holds). Runs when the engine opens."""
        for path, manifest, paths in self._manifests():
            with suppress(LockTimeout), self._locked(paths, 0):
                if os.path.exists(path):
                    self._apply_moves(path, manifest)
        for p in [os.path.join(self.warehouse, *e) for e in self._entries() if _ARTIFACT.search(e[1])]:
            with suppress(LockTimeout), self._locked([p], 0):
                owned = {self._lock_path(x) for *_, paths in self._manifests() for x in paths if x}
                if self._lock_path(p) in owned:
                    continue  # a publish committed since the pass above
                if os.path.isdir(p):
                    shutil.rmtree(p)
                else:
                    os.remove(p)

    # -- task verbs (psqldatasource.rb §2.2) --------------------------------

    def drop_table(self, spec: TableSpec | str, force: bool = True) -> None:
        spec = TableSpec.parse(spec) if isinstance(spec, str) else spec
        if not self.table_exists(spec):
            if force:
                return
            raise JobFailure(f"cannot drop, no such table: {spec}")
        self.publish([("replace", None, self.table_dir(spec))])
        self._schemas.pop(self.table_dir(spec), None)
        self.spark.catalog.dropTempView(spec.view_name)

    def truncate(self, spec: TableSpec | str) -> None:
        """Overwrite with an empty frame of the same schema."""
        df = self.table(spec)
        self.save_table(df.limit(0), spec, mode="overwrite")

    def rename_table(self, src: TableSpec | str, dest: TableSpec | str) -> None:
        src = TableSpec.parse(src) if isinstance(src, str) else src
        dest = TableSpec.parse(dest) if isinstance(dest, str) else dest
        with self.locked(src, dest):
            if not self.table_exists(src):
                raise JobFailure(f"cannot rename, no such table: {src}")
            if self.table_exists(dest):
                raise JobFailure(f"cannot rename, table exists: {dest}")
            known = self.known_schema(src)
            self.publish([("replace", self.table_dir(src), self.table_dir(dest))])
            self._schemas.pop(self.table_dir(src), None)
            self.spark.catalog.dropTempView(src.view_name)
            self.register(dest, known)

    def create_view(self, name: TableSpec | str, select_sql: str) -> None:
        spec = TableSpec.parse(name) if isinstance(name, str) else name
        self.sql(select_sql).createOrReplaceTempView(spec.view_name)

    def drop_view(self, name: TableSpec | str) -> None:
        spec = TableSpec.parse(name) if isinstance(name, str) else name
        self.spark.catalog.dropTempView(spec.view_name)

    def analyze(self, spec: TableSpec | str) -> dict:
        """ANALYZE parity: recompute and persist basic table stats."""
        df = self.table(spec)
        n = df.count()
        return {"table": str(spec), "rows": n}

    def vacuum(self, spec: TableSpec | str, target_partitions: int | None = None) -> None:
        """VACUUM parity: compact small files by rewriting the table.

        Target partition count comes from the file listing (driver-side
        metadata), not ``df.rdd.getNumPartitions()`` — converting the
        plan to an RDD just to count splits forces an extra analysis pass.
        The writer lock, held from read to publish, keeps appends out.
        """
        with self.locked(spec):
            df = self.table(spec)
            n_files = sum(
                1
                for _root, _dirs, files in os.walk(self.table_dir(spec))
                for f in files
                if f.endswith(".parquet")
            )
            n = target_partitions or max(1, n_files // 4)
            self.save_table(df.repartition(n), spec, mode="overwrite")

    def bucketed_dir(self, spec: TableSpec | str) -> str:
        """Location of a bucketed table's files (engine-owned sibling of
        the plain parquet dir)."""
        return self.table_dir(spec) + ".__bucketed__"

    def bucketed_table_exists(self, spec: TableSpec | str) -> bool:
        """True when bucket FILES exist on disk — the durable fact.
        (Catalog entries are session-scoped; see ``bucketed_table``.)"""
        return os.path.isdir(self.bucketed_dir(spec))

    _BUCKET_SPEC_FILE = "_bucket_spec.json"

    def _write_bucket_spec(
        self,
        location: str,
        bucket_cols: list[str],
        n_buckets: int,
        sort_cols: list[str] | None,
    ) -> None:
        """Persist the bucketing CONTRACT next to the files it describes.

        The count the files were hashed into is a durable physical fact;
        the catalog entry that carries it is session-scoped. Without a
        durable record, a re-registration is forced to trust whatever
        count the caller passes — and a config drift (a job's
        ``registry-buckets`` edited from 8 to 4) would make Spark elide
        Exchanges based on a false layout and return WRONG results from
        bucketed joins. Written atomically (rename) on every bucketed
        write; validated by ``bucketed_table``.
        """
        spec_path = os.path.join(location, self._BUCKET_SPEC_FILE)
        tmp = spec_path + f".tmp{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "n_buckets": n_buckets,
                    "bucket_cols": bucket_cols,
                    "sort_cols": sort_cols or bucket_cols,
                },
                f,
            )
        os.replace(tmp, spec_path)

    def bucket_spec(self, spec: TableSpec | str) -> dict | None:
        """The persisted bucketing contract of a bucketed table (the
        ``_bucket_spec.json`` sidecar), or None when the directory has
        no sidecar (pre-sidecar layout or not bucketed). This is how a
        REWRITE job reads a table whose count it is about to change:
        read with the written spec, write with the requested one —
        reading with the requested (new) count would fail the drift
        check by design."""
        p = os.path.join(self.bucketed_dir(spec), self._BUCKET_SPEC_FILE)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _check_bucket_spec(
        self,
        location: str,
        bucket_cols: list[str],
        n_buckets: int,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Fail fast when the caller's bucketing spec contradicts the
        layout the files were actually written with — count, key
        columns, AND sort columns (Spark trusts ``SORTED BY`` and
        elides sorts, so a drifted sort spec corrupts merge joins just
        like a drifted count).

        Primary source: the ``_bucket_spec.json`` sidecar persisted at
        write time. Fallback for pre-sidecar directories: the bucket id
        Spark encodes in every part-file name (``part-*_BBBBB.c000``) —
        an observed id >= the claimed count proves the claim wrong
        (the reverse drift, claiming MORE buckets than the files have,
        is only catchable via the sidecar).
        """
        spec_path = os.path.join(location, self._BUCKET_SPEC_FILE)
        if os.path.exists(spec_path):
            with open(spec_path) as f:
                spec = json.load(f)
            want_sort = list(sort_cols or bucket_cols)
            if (
                int(spec["n_buckets"]) != n_buckets
                or list(spec["bucket_cols"]) != list(bucket_cols)
                or list(spec.get("sort_cols", spec["bucket_cols"]))
                != want_sort
            ):
                raise JobFailure(
                    f"bucket spec mismatch for {location}: files were "
                    f"written CLUSTERED BY ({', '.join(spec['bucket_cols'])}) "
                    f"SORTED BY ({', '.join(spec.get('sort_cols', spec['bucket_cols']))}) "
                    f"INTO {spec['n_buckets']} BUCKETS, caller requested "
                    f"({', '.join(bucket_cols)}) SORTED BY "
                    f"({', '.join(want_sort)}) INTO {n_buckets}. Reading "
                    "with a different spec would silently misread the "
                    "layout. Read with the written spec, or rewrite via "
                    f"registry-compact with buckets: {n_buckets}."
                )
            return
        pat = re.compile(r"^part-\d+-.*_(\d{5})\.")
        ids = [
            int(m.group(1))
            for f in os.listdir(location)
            if (m := pat.match(f))
        ]
        if ids and max(ids) >= n_buckets:
            raise JobFailure(
                f"bucket count mismatch for {location}: part files carry "
                f"bucket id {max(ids)} but caller claims only {n_buckets} "
                f"buckets ({max(ids) + 1}+ were written). Rewrite via "
                f"registry-compact with buckets: {n_buckets}, or read "
                "with the real count."
            )

    def bucketed_table(
        self,
        spec: TableSpec | str,
        bucket_cols: list[str] | str,
        n_buckets: int = 16,
        sort_cols: list[str] | None = None,
    ) -> DataFrame:
        """Read a bucketed table, re-registering its catalog entry first
        if this session has never seen it.

        The bucket FILES are durable; the catalog entry that carries the
        bucketing metadata is session-scoped (no external metastore), so
        a new process reading the files as plain parquet would silently
        lose the co-location and re-shuffle the whole table on every
        probe join. The fix is an idempotent
        ``CREATE TABLE ... CLUSTERED BY ... LOCATION`` over the existing
        files (schema from ``_read``: remembered, else the parquet
        footers) — after which
        scans report ``Bucketed: true`` and joins on the bucket key
        leave the table side Exchange-free.

        ``n_buckets`` is part of the table's on-disk CONTRACT: the files
        were hashed into that many buckets at write time, and
        re-registering with a different count would make Spark misread
        them — so the count persisted at write time
        (``_bucket_spec.json`` in the bucket dir) is validated against
        the caller's and a mismatch FAILS FAST rather than silently
        eliding Exchanges over a false layout. Changing the count means
        a bucketed rewrite (``registry-compact`` with ``buckets:
        <new N>`` does exactly that). A same-name catalog entry left by
        another warehouse in this session is detected by location and
        replaced — unless it is a MANAGED table (dropping one deletes
        its data, not just the stale metadata), which raises instead.
        """
        spec = TableSpec.parse(spec) if isinstance(spec, str) else spec
        bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else bucket_cols
        name = spec.view_name
        location = self.bucketed_dir(spec)
        if os.path.isdir(location):
            self._check_bucket_spec(location, bucket_cols, n_buckets, sort_cols)
        # a same-name TEMP VIEW (e.g. the plain layout registered by
        # save_table/register_all in this session) shadows any catalog
        # table in spark.table() — serving it here would silently hand
        # back the WRONG layout (and, in the migration crash window,
        # stale data). The layout contract says a table is either plain
        # or bucketed; asking for the bucketed read asserts bucketed is
        # canonical, so drop the session-scoped shadow.
        # not-found is the only acceptable getTable failure: anything
        # else (py4j/session breakage) must propagate, or the fallthrough
        # to spark.table(name) would resolve the temp view first and
        # reintroduce the exact wrong-layout read this block prevents.
        try:
            t = self.spark.catalog.getTable(name)
        except AnalysisException:
            t = None  # no catalog entry at all
        if t is not None and t.tableType == "TEMPORARY":
            self.spark.catalog.dropTempView(name)
        if self.spark.catalog.tableExists(name):
            # a same-name entry registered by ANOTHER engine/warehouse in
            # this session would silently serve the wrong files — verify
            # the entry points at OUR location, else drop and re-register
            rows = self.spark.sql(f"DESCRIBE FORMATTED {name}").collect()
            cat_loc = next(
                (r.data_type for r in rows if r.col_name == "Location"), None
            )
            if cat_loc is not None and os.path.normpath(
                cat_loc.removeprefix("file:")
            ) != os.path.normpath(location):
                cat_type = next(
                    (r.data_type for r in rows if r.col_name == "Type"), ""
                )
                if cat_type.strip().upper() == "MANAGED":
                    raise JobFailure(
                        f"catalog name collision: {name} is a MANAGED "
                        f"table at {cat_loc} — dropping it would delete "
                        "its data. Rename the engine table or drop the "
                        "managed table explicitly."
                    )
                self.spark.sql(f"DROP TABLE {name}")
        if not self.spark.catalog.tableExists(name):
            if not os.path.isdir(location):
                raise JobFailure(f"no such bucketed table: {spec}")
            schema = self._read(location).schema
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
            )
            sort = ", ".join(f"`{c}`" for c in (sort_cols or bucket_cols))
            buckets = ", ".join(f"`{c}`" for c in bucket_cols)
            self.spark.sql(
                f"CREATE TABLE {name} ({cols}) USING PARQUET "
                f"CLUSTERED BY ({buckets}) SORTED BY ({sort}) "
                f"INTO {n_buckets} BUCKETS LOCATION '{location}'"
            )
        return self.spark.table(name)

    def save_table_bucketed(
        self,
        df: DataFrame,
        dest: TableSpec | str,
        bucket_cols: list[str] | str,
        n_buckets: int = 16,
        sort_cols: list[str] | None = None,
        mode: str = "overwrite",
    ) -> int:
        """Write a bucketed catalog table — the real ``distkey`` parity.

        Two tables bucketed the same way join WITHOUT a shuffle (Spark
        reads co-located buckets directly); this is the Redshift
        distkey/co-location story (SURVEY §1.4). Bucketed writes must go
        through the session catalog (``saveAsTable``), so these tables
        live in the Spark warehouse rather than the engine's plain
        parquet directory — reads work uniformly via ``spark.table``
        (or ``bucketed_table`` from a fresh session).

        ``mode="append"`` adds this batch's rows as new per-bucket files
        (Spark validates the bucketing spec against the existing table)
        — the O(batch) maintenance write a corpus-scale registry needs;
        an overwrite there would rewrite O(history) per snapshot.

        Overwrite writes a staging table, then ``publish``es it into
        place and re-registers, so a plan that READS the table being
        overwritten — registry compaction — consumes the old files
        while the new ones are written, same contract as ``save_table``.
        """
        from pyspark.sql import Observation

        spec = TableSpec.parse(dest) if isinstance(dest, str) else dest
        bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else bucket_cols
        name = spec.view_name
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows_written"))
        # external table with a location inside the engine warehouse, so
        # data placement stays ours (and a dropped metastore entry never
        # orphans a directory in the global spark-warehouse)
        location = self.bucketed_dir(spec)
        with self.locked(spec):
            if mode == "append":
                # Spark's own append: make sure THIS session's catalog knows
                # the table (files may predate it); Spark validates the spec
                self.bucketed_table(spec, bucket_cols, n_buckets, sort_cols)
                (
                    df.write.format("parquet")
                    .mode("append")
                    .option("path", location)
                    .bucketBy(n_buckets, *bucket_cols)
                    .sortBy(*(sort_cols or bucket_cols))
                    .saveAsTable(name)
                )
                self._write_bucket_spec(location, bucket_cols, n_buckets, sort_cols)
            elif mode == "overwrite":
                # same managed-table guard as bucketed_table (checked
                # BEFORE the stage write so a refusal costs nothing): the
                # engine's own entries are always EXTERNAL, so a MANAGED
                # entry is a foreign table whose DATA the publish would drop
                if self.spark.catalog.tableExists(name):
                    rows = self.spark.sql(f"DESCRIBE FORMATTED {name}").collect()
                    cat_type = next(
                        (r.data_type for r in rows if r.col_name == "Type"), ""
                    )
                    if cat_type.strip().upper() == "MANAGED":
                        raise JobFailure(
                            f"catalog name collision: {name} is a MANAGED "
                            "table — overwriting it would delete its data. "
                            "Rename the engine table or drop the managed "
                            "table explicitly."
                        )
                stage_name = f"{name}__stage"
                stage_loc = f"{location}.__stage__{uuid.uuid4().hex[:8]}"
                self.spark.sql(f"DROP TABLE IF EXISTS {stage_name}")
                (
                    df.write.format("parquet")
                    .mode("overwrite")
                    .option("path", stage_loc)
                    .bucketBy(n_buckets, *bucket_cols)
                    .sortBy(*(sort_cols or bucket_cols))
                    .saveAsTable(stage_name)
                )
                # stamp the bucketing contract INTO the stage before the
                # publish, so the sidecar travels atomically with its files:
                # a sidecar-less dir after a crash could be re-registered
                # with an over-claimed count, which the part-filename
                # fallback cannot disprove
                self._write_bucket_spec(stage_loc, bucket_cols, n_buckets, sort_cols)
                self.spark.sql(f"DROP TABLE IF EXISTS {stage_name}")
                self.spark.sql(f"DROP TABLE IF EXISTS {name}")
                self.publish([("replace", stage_loc, location)])
                self._read(location, df.schema)  # remember the written schema
                self.bucketed_table(spec, bucket_cols, n_buckets, sort_cols)
            else:
                raise ParameterError(f"unknown write mode: {mode}")
        return int(obs.get["rows_written"])

    def create_dummy_table(self, spec: TableSpec | str) -> None:
        """``create table if not exists t (x int)`` — the swap trick
        (psqldatasource.rb:298-302) so a later rename pair never fails."""
        spec = TableSpec.parse(spec) if isinstance(spec, str) else spec
        if not self.table_exists(spec):
            from pyspark.sql import types as T

            empty = self.spark.createDataFrame(
                [], T.StructType([T.StructField("x", T.IntegerType())])
            )
            self.save_table(empty, spec, mode="overwrite")

    def query_batch(self, statement: str, batch_size: int = 5000):
        """Cursor-style batched fetch (postgresconnection.rb:206-241,
        default batch 5000). Yields lists of Rows; the driver holds at
        most one partition at a time (toLocalIterator), never the whole
        result."""
        it = self.sql(statement).toLocalIterator()
        batch: list = []
        for row in it:
            batch.append(row)
            if len(batch) >= batch_size:
                yield batch
                batch = []
        if batch:
            yield batch

    # -- statement executor --------------------------------------------------

    def execute_statement(self, statement: str) -> DataFrame | None:
        """Execute one SQL statement with DML/DDL semantics.

        The reference ships whole SQL files to Redshift; here the small
        dialect of statement *kinds* it observably uses
        (sqlstatement.rb:67-75 kind sniffing; INSERT…SELECT, DELETE WHERE,
        CREATE VIEW, TRUNCATE, DROP) is executed against the warehouse:

        - ``INSERT INTO t <select>``  → append via stage-safe writer
        - ``DELETE FROM t WHERE c``   → overwrite with ``filter(NOT c)``
        - ``CREATE [OR REPLACE] VIEW v AS <select>`` / ``DROP VIEW``
        - ``TRUNCATE [TABLE] t`` / ``DROP TABLE [IF EXISTS] t``
        - ``VACUUM t`` / ``ANALYZE t`` / ``GRANT …`` (logged no-op)
        - anything else → ``spark.sql`` (SELECT returns the DataFrame)
        """
        stmt = statement.strip().rstrip(";").strip()
        if not stmt:
            return None
        head = stmt.split(None, 2)
        kind = head[0].lower()
        if kind == "insert":
            m = re.match(r"insert\s+into\s+([\w.]+)\s+(.*)\Z", stmt, re.S | re.I)
            if not m:
                raise ParameterError(f"cannot parse INSERT: {stmt[:80]}...")
            dest, select = m.group(1), m.group(2)
            self.last_insert_rows = self.save_table(self.sql(select), dest, mode="append")
            return None
        if kind == "delete":
            m = re.match(r"delete\s+from\s+([\w.]+)\s+where\s+(.*)\Z", stmt, re.S | re.I)
            if not m:
                raise ParameterError(f"cannot parse DELETE: {stmt[:80]}...")
            dest, cond = m.group(1), m.group(2)
            # SQL DELETE removes only rows where cond IS TRUE; rows where
            # cond evaluates to NULL must be KEPT (3-valued logic). A bare
            # NOT(cond) would drop them too.
            kept = self.table(dest).filter(f"NOT coalesce(({cond}), false)")
            self.save_table(kept, dest, mode="overwrite")
            return None
        if kind == "create":
            m = re.match(
                r"create\s+(?:or\s+replace\s+)?view\s+([\w.]+)\s+as\s+(.*)\Z",
                stmt,
                re.S | re.I,
            )
            if m:
                self.create_view(m.group(1), m.group(2))
                return None
            m = re.match(
                r"create\s+table\s+(?:if\s+not\s+exists\s+)?([\w.]+)\s+as\s+(.*)\Z",
                stmt,
                re.S | re.I,
            )
            if m:
                self.save_table(self.sql(m.group(2)), m.group(1), mode="overwrite")
                return None
            raise ParameterError(f"unsupported CREATE: {stmt[:80]}...")
        if kind == "truncate":
            m = re.match(r"truncate\s+(?:table\s+)?([\w.]+)\Z", stmt, re.I)
            if not m:
                raise ParameterError(f"cannot parse TRUNCATE: {stmt}")
            self.truncate(m.group(1))
            return None
        if kind == "drop":
            m = re.match(
                r"drop\s+(table|view)\s+(if\s+exists\s+)?([\w.]+)(\s+cascade)?\Z",
                stmt,
                re.I,
            )
            if not m:
                raise ParameterError(f"cannot parse DROP: {stmt}")
            if m.group(1).lower() == "table":
                self.drop_table(m.group(3), force=bool(m.group(2)))
            else:
                self.drop_view(m.group(3))
            return None
        if kind == "vacuum":
            parts = stmt.split()
            self.vacuum(parts[-1])
            return None
        if kind == "analyze":
            self.analyze(stmt.split()[-1])
            return None
        if kind == "grant":
            return None  # no ACLs in OSS Spark; parity = no-op (logged by caller)
        return self.sql(stmt)

    def execute_script(self, sql_text: str) -> DataFrame | None:
        """Execute a multi-statement SQL script; returns the last SELECT's
        DataFrame if any."""
        last = None
        for stmt in split_statements(sql_text):
            result = self.execute_statement(stmt)
            if result is not None:
                last = result
        return last

    def explain(self, statement_or_df: str | DataFrame) -> str:
        df = (
            self.sql(statement_or_df)
            if isinstance(statement_or_df, str)
            else statement_or_df
        )
        return df._jdf.queryExecution().explainString(  # noqa: SLF001
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(  # noqa: SLF001
                "formatted"
            )
        )
