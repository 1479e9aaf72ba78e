"""Keyspace/table catalog operations — reference DDL operators D1-D5.

Maps the reference's CQL DDL (SURVEY.md §2.1) onto the Spark session
catalog + a small engine-side registry of key metadata that Spark's
catalog does not model (partition key vs clustering columns, clustering
order — ``server.py:178-186``).

- D1 CREATE KEYSPACE (``server.py:76-79``) → CREATE DATABASE IF NOT EXISTS;
  the replication factor is recorded as a database property (storage
  concern, SURVEY.md §1.4).
- D2 DROP KEYSPACE (``server.py:88``)      → DROP DATABASE ... CASCADE.
- D3 USE keyspace (``server.py:60``)       → setCurrentDatabase.
- D4/D5 CREATE TABLE (``server.py:178-186``, ``296-304``) → Parquet table
  registered in the catalog; the physical layout contract (hash
  partition on the partition key, sort within partitions by clustering
  columns) is enforced by `cassandrastack_spark.storage.WideColumnTable`.

All DDL is idempotent (IF NOT EXISTS / IF EXISTS), matching the
reference's use of the same.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType


@dataclass
class TableSpec:
    """Engine-side table metadata: what CQL DDL encodes beyond columns."""

    name: str
    schema: StructType
    partition_keys: list[str]
    clustering_keys: list[str] = field(default_factory=list)
    clustering_desc: bool = False
    properties: dict = field(default_factory=dict)

    @property
    def primary_key(self) -> list[str]:
        return self.partition_keys + self.clustering_keys


class Keyspace:
    """A namespace of wide-column tables, backed by a warehouse directory.

    Mirrors CREATE KEYSPACE semantics: a named container with
    replication properties (``server.py:76-79``); here replication is a
    recorded property (the storage layer — HDFS/S3 — owns replication at
    scale, SURVEY.md §1.4).
    """

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        warehouse: str,
        replication_factor: int = 2,
    ):
        self.spark = spark
        self.name = name
        self.warehouse = warehouse
        self.replication_factor = replication_factor
        self.tables: dict[str, TableSpec] = {}
        # base table name -> names of materialized views kept in sync
        self.views: dict[str, list[str]] = {}

    # D1 — CREATE KEYSPACE IF NOT EXISTS (server.py:76-79)
    def create(self) -> "Keyspace":
        os.makedirs(self.path, exist_ok=True)
        self._save_meta()
        return self

    # D2 — DROP KEYSPACE IF EXISTS (server.py:88)
    def drop(self) -> None:
        import shutil

        if os.path.exists(self.path):
            shutil.rmtree(self.path)
        self.tables.clear()

    @property
    def path(self) -> str:
        return os.path.join(self.warehouse, self.name)

    def _save_meta(self) -> None:
        meta = {
            "keyspace": self.name,
            "replication": {
                "class": "SimpleStrategy",
                "replication_factor": self.replication_factor,
            },
        }
        with open(os.path.join(self.path, "_keyspace.json"), "w") as f:
            json.dump(meta, f)

    # D4/D5 — CREATE TABLE IF NOT EXISTS (server.py:178-186, 296-304)
    def create_table(
        self,
        name: str,
        schema: StructType,
        partition_keys: list[str],
        clustering_keys: list[str] | None = None,
        clustering_desc: bool = False,
        counter_columns: list[str] | None = None,
        collection_columns: dict[str, str] | None = None,
        static_columns: list[str] | None = None,
    ) -> TableSpec:
        """``counter_columns`` marks CQL ``counter`` columns: their
        reconciliation mode is SUM-of-increments, not last-writer-wins
        (Cassandra keeps counters in dedicated tables for the same
        reason — the merge rule differs). CQL's rules are enforced:
        counters cannot be key columns, and a counter table's non-key
        columns must ALL be counters.

        ``collection_columns`` maps column name -> kind ('set' | 'list'
        | 'map'), the CQL collection types: their reconciliation folds
        delta mutations (add/remove/append/prepend/put) over the last
        full assignment in writetime order instead of last-writer-wins
        on the whole cell (see WideColumnTable.update_collection).
        Collections cannot be key columns (CQL rule: non-frozen
        collections are unusable in primary keys) and cannot mix with
        counters (counter tables hold only counters)."""
        if name in self.tables:  # IF NOT EXISTS: no-op on re-create
            return self.tables[name]
        statics = list(static_columns or [])
        if statics:
            # CQL rules: statics only make sense with clustering columns
            # (they are the per-partition shared cells ABOVE the
            # clustering rows), cannot be key columns, and cannot double
            # as counters or collections.
            if not clustering_keys:
                raise ValueError(
                    "static columns require clustering columns (CQL rule: "
                    "a table without clustering rows has nothing to share)"
                )
            pk = set(partition_keys) | set(clustering_keys)
            in_key = set(statics) & pk
            if in_key:
                raise ValueError(
                    f"static columns cannot be key columns: {sorted(in_key)}"
                )
            overlap = set(statics) & (
                set(counter_columns or []) | set(collection_columns or {})
            )
            if overlap:
                raise ValueError(
                    f"static columns cannot be counters or collections: {sorted(overlap)}"
                )
            unknown = set(statics) - {f.name for f in schema.fields}
            if unknown:
                raise ValueError(f"static columns not in schema: {sorted(unknown)}")
        collections = dict(collection_columns or {})
        if collections:
            bad_kind = {c: k for c, k in collections.items() if k not in ("set", "list", "map")}
            if bad_kind:
                raise ValueError(f"unknown collection kinds: {bad_kind}")
            pk = set(partition_keys) | set(clustering_keys or [])
            in_key = set(collections) & pk
            if in_key:
                raise ValueError(
                    f"collection columns cannot be key columns: {sorted(in_key)}"
                )
            if counter_columns:
                raise ValueError("counter tables cannot hold collections (CQL rule)")
            unknown = set(collections) - {f.name for f in schema.fields}
            if unknown:
                raise ValueError(f"collection columns not in schema: {sorted(unknown)}")
        # last-writer-wins breaks a writetime tie on the cell value
        # (storage.py _reconcile_rows); Spark orders a map only as a
        # cell's top-level value, by its entries
        unordered = [
            f.name for f in schema.fields
            if f.name not in collections
            and "map<" in f.dataType.simpleString().removeprefix("map<")
        ]
        if unordered:
            raise ValueError(
                f"a map nested in a non-collection column has no order: {unordered}"
            )
        counters = list(counter_columns or [])
        if counters:
            pk = list(partition_keys) + list(clustering_keys or [])
            in_key = set(counters) & set(pk)
            if in_key:
                raise ValueError(f"counter columns cannot be key columns: {sorted(in_key)}")
            non_key = {f.name for f in schema.fields} - set(pk)
            non_counter = non_key - set(counters)
            if non_counter:
                raise ValueError(
                    "a counter table's non-key columns must all be "
                    f"counters; plain columns: {sorted(non_counter)}"
                )
        props: dict = {}
        if counters:
            props["counter_columns"] = counters
        if collections:
            props["collection_columns"] = collections
        if statics:
            props["static_columns"] = statics
        spec = TableSpec(
            name=name,
            schema=schema,
            partition_keys=list(partition_keys),
            clustering_keys=list(clustering_keys or []),
            clustering_desc=clustering_desc,
            properties=props,
        )
        self.tables[name] = spec
        os.makedirs(self.table_path(name), exist_ok=True)
        return spec

    def create_materialized_view(
        self,
        base: str,
        view: str,
        partition_keys: list[str],
        clustering_keys: list[str] | None = None,
        clustering_desc: bool = False,
    ) -> TableSpec:
        """Cassandra-3.0 materialized view DDL: the same rows under a
        different primary key, so queries can address the data by a
        second access path without app-maintained denormalization.

        Enforces Cassandra's own MV rules (they are what make write-path
        propagation sound under upsert semantics):

        - the view's primary key must contain EVERY base primary-key
          column (a base row maps to exactly one view row);
        - at most ONE non-primary-key base column may join the view's
          key (limits the key-move surface an update can create);
        - views of views are not allowed.
        """
        if base not in self.tables:
            raise ValueError(f"unknown base table {base!r}")
        if self.tables[base].properties.get("materialized_view_of"):
            raise ValueError("materialized views of views are not allowed")
        if view in self.tables:  # IF NOT EXISTS semantics, like D4/D5
            return self.tables[view]
        base_spec = self.tables[base]
        pk = list(partition_keys) + list(clustering_keys or [])
        missing = set(base_spec.primary_key) - set(pk)
        if missing:
            raise ValueError(
                f"view primary key must include all base primary-key "
                f"columns; missing {sorted(missing)}"
            )
        extra = set(pk) - set(base_spec.primary_key)
        if len(extra) > 1:
            raise ValueError(
                f"at most one non-primary-key base column may be part of "
                f"the view key; got {sorted(extra)}"
            )
        unknown = set(pk) - {f.name for f in base_spec.schema.fields}
        if unknown:
            raise ValueError(f"view key columns not in base schema: {sorted(unknown)}")
        spec = TableSpec(
            name=view,
            schema=base_spec.schema,
            partition_keys=list(partition_keys),
            clustering_keys=list(clustering_keys or []),
            clustering_desc=clustering_desc,
            properties={"materialized_view_of": base},
        )
        self.tables[view] = spec
        self.views.setdefault(base, []).append(view)
        os.makedirs(self.table_path(view), exist_ok=True)
        return spec

    def alter_table_add_column(self, table: str, field) -> TableSpec:
        """CQL ``ALTER TABLE ... ADD``: append a nullable column.

        Schema evolution is metadata-only: existing Parquet files are
        untouched — every read goes through the DECLARED schema
        (``storage.py _raw``), so the new column materializes as NULL
        on old rows, exactly CQL's behavior. Key columns cannot be
        added or changed (CQL rule); the new column must be nullable.
        """
        from pyspark.sql.types import StructField, StructType

        spec = self.tables.get(table)
        if spec is None:
            raise ValueError(f"unknown table {table!r}")
        if not isinstance(field, StructField) or not field.nullable:
            raise ValueError("added column must be a nullable StructField")
        if field.name in {f.name for f in spec.schema.fields}:
            return spec  # IF NOT EXISTS flavor: no-op
        spec.schema = StructType(list(spec.schema.fields) + [field])
        return spec

    def alter_table_drop_column(self, table: str, column: str) -> TableSpec:
        """CQL ``ALTER TABLE ... DROP``: remove a non-key column.

        Metadata-only, like ADD: reads go through the DECLARED schema,
        so the column vanishes from the read path immediately while the
        bytes linger in existing Parquet files until ``compact()``
        rewrites them — the same lazy reclamation CQL documents for
        dropped columns. Primary-key columns cannot be dropped, and a
        table with materialized views (or indexes — same machinery)
        refuses drops, both CQL rules.
        """
        from pyspark.sql.types import StructType

        spec = self.tables.get(table)
        if spec is None:
            raise ValueError(f"unknown table {table!r}")
        if column in spec.primary_key:
            raise ValueError(f"cannot drop primary key column {column!r} (CQL rule)")
        if self.views.get(table):
            raise ValueError(
                f"cannot drop a column from {table!r}: it has materialized "
                "views/indexes (CQL rule — drop the views first)"
            )
        if column not in {f.name for f in spec.schema.fields}:
            return spec  # IF EXISTS flavor: no-op
        spec.schema = StructType(
            [f for f in spec.schema.fields if f.name != column]
        )
        return spec

    def create_index(self, base: str, column: str) -> TableSpec:
        """CQL ``CREATE INDEX`` (Cassandra secondary index): query rows
        by a non-key column without a full scan.

        Implemented as the degenerate materialized view — partition key
        = the indexed column, the base primary key as clustering — which
        is also how Cassandra folk model 2i's sibling ("MV as global
        index"): the index is bucket-routed by the indexed VALUE, so an
        equality probe prunes to one bucket exactly like a base-table
        point read. Maintained by the same write-path propagation /
        refresh machinery as any view.
        """
        base_spec = self.tables.get(base)
        if base_spec is None:
            raise ValueError(f"unknown base table {base!r}")
        name = f"{base}_{column}_idx"
        clustering = [c for c in base_spec.primary_key if c != column]
        return self.create_materialized_view(
            base, name, partition_keys=[column], clustering_keys=clustering
        )

    def describe_table(self, name: str) -> str:
        """cqlsh ``DESCRIBE TABLE``: reconstruct the CQL DDL from the
        catalog metadata — the round-trip a reference user runs to
        inspect a schema. Spark types render as their CQL analogues
        (long->bigint, string->text, array->set/list by declared kind,
        binary->blob); counter/static markers and the clustering order
        clause come from the spec's properties.
        """
        if name not in self.tables:
            raise ValueError(f"unknown table {name!r}")
        spec = self.tables[name]
        counters = set(spec.properties.get("counter_columns", ()))
        statics = set(spec.properties.get("static_columns", ()))
        collections = dict(spec.properties.get("collection_columns") or {})

        def cql_type(field) -> str:
            from pyspark.sql.types import ArrayType, MapType

            simple = {
                "bigint": "bigint", "string": "text", "int": "int",
                "double": "double", "float": "float", "boolean": "boolean",
                "timestamp": "timestamp", "timestamp_ntz": "timestamp",
                "date": "date", "binary": "blob",
            }
            dt_ = field.dataType
            if field.name in counters:
                return "counter"
            if isinstance(dt_, ArrayType):
                inner = simple.get(dt_.elementType.simpleString(), "text")
                kind = collections.get(field.name, "list")
                return f"{kind}<{inner}>"
            if isinstance(dt_, MapType):
                k = simple.get(dt_.keyType.simpleString(), "text")
                v = simple.get(dt_.valueType.simpleString(), "text")
                return f"map<{k}, {v}>"
            return simple.get(dt_.simpleString(), dt_.simpleString())

        cols = [
            f"    {f.name} {cql_type(f)}"
            + (" static" if f.name in statics else "")
            for f in spec.schema.fields
        ]
        pk_part = ", ".join(spec.partition_keys)
        if spec.clustering_keys:
            pk = f"({pk_part}), " + ", ".join(spec.clustering_keys)
        else:
            pk = pk_part
        lines = (
            [f"CREATE TABLE {self.name}.{name} ("]
            + [c + "," for c in cols]
            + [f"    PRIMARY KEY ({pk})", ")"]
        )
        if spec.clustering_keys:
            order = "DESC" if spec.clustering_desc else "ASC"
            by = ", ".join(f"{c} {order}" for c in spec.clustering_keys)
            lines[-1] = f") WITH CLUSTERING ORDER BY ({by})"
        return "\n".join(lines) + ";"

    def drop_table(self, name: str) -> None:
        import shutil

        self.tables.pop(name, None)
        p = self.table_path(name)
        if os.path.exists(p):
            shutil.rmtree(p)

    def table_path(self, name: str) -> str:
        return os.path.join(self.path, name)
