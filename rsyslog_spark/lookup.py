"""Lookup tables — the engine's join operator (SURVEY §2.6).

Reference: runtime/lookup.c (1052 LoC), table types runtime/lookup.h:25-33.
Tables are small, in-memory, hot-reloadable dimension data; per-table
``nomatch`` default (lookup.h:95). The Spark-idiomatic mapping:

- ``string`` (exact hash/bsearch, lookup.c:312-328,448)  -> broadcast
  hash equi-join (never a shuffle; the dimension fits one executor by
  construction, like the reference's in-process hash).
- ``array``  (dense uint offset, lookup.c:330-349)        -> same.
- ``sparseArray`` (largest key <= lookup key, bsearch_lte,
  lookup.c:351-389) -> AS-OF lookup. Spark has no native as-of join; for
  the (tiny dim) x (huge fact) shape the right plan is NOT a range join
  (O(n*m) blowup) but a broadcast CASE/array binary search — we compile
  the sorted boundaries into a constant ``width_bucket``-style expression
  so the probe stays in whole-stage codegen with zero shuffle.
- ``stubbed`` (lookup.h:28, lookupKey_stub :306-309)      -> lit(stub).

``lookup(name, key)`` function semantics (rainerscript.c:2486-2528):
missing table -> "TABLE-NOT-FOUND"; no match -> table's nomatch value.
``reload_lookup_table`` (ruleset.c:551-569) ≙ re-reading the dimension
between batch runs — trivially supported because the dim is re-resolved
at pipeline compile time.
"""

from __future__ import annotations

import bisect
import json

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

TABLE_NOT_FOUND = "TABLE-NOT-FOUND"


class LookupTable:
    """One named lookup table (string / array / sparseArray / stubbed)."""

    def __init__(
        self,
        name: str,
        kind: str,
        mapping: dict | list[tuple] | None = None,
        nomatch: str = "",
        stub: str | None = None,
    ):
        if kind not in ("string", "array", "sparseArray", "stubbed"):
            raise ValueError(kind)
        self.name = name
        self.kind = kind
        self.nomatch = nomatch
        self.stub = stub
        if kind == "sparseArray":
            items = sorted(dict(mapping or {}).items())
            self.keys = [int(k) for k, _ in items]
            self.vals = [v for _, v in items]
        else:
            self.mapping = dict(mapping or {})

    @classmethod
    def from_json_file(cls, name: str, path: str, nomatch: str = ""):
        """Reference tables load from JSON files (lookup.c:429-448)."""
        with open(path) as fh:
            doc = json.load(fh)
        table = doc.get("table", doc)
        kind = doc.get("type", "string")
        mapping = {e["index"]: e["value"] for e in table} if isinstance(table, list) else table
        return cls(name, kind, mapping, nomatch=doc.get("nomatch", nomatch))

    # -- scalar-expression probes (broadcast-free, codegen'd) -------------

    def lookup_expr(self, key: Column) -> Column:
        """Compile ``lookup(name, key)`` into a constant-map probe.

        For small dims this beats even a broadcast join: the table
        becomes a literal MAP in the plan (the reference interns the
        strings in-process, lookup.c:429-448 — same locality idea)."""
        if self.kind == "stubbed":
            return F.lit(self.stub if self.stub is not None else self.nomatch)
        if self.kind == "sparseArray":
            return self.asof_expr(key)
        pairs: list[Column] = []
        for k, v in self.mapping.items():
            pairs.append(F.lit(str(k)))
            pairs.append(F.lit(v))
        if not pairs:
            return F.lit(self.nomatch)
        m = F.create_map(*pairs)
        return F.coalesce(
            F.element_at(m, key.cast("string")), F.lit(self.nomatch)
        )

    def asof_expr(self, key: Column) -> Column:
        """sparseArray probe: value of the LARGEST entry key <= lookup key
        (bsearch_lte, lookup.c:351-389); below smallest -> nomatch."""
        if not self.keys:
            return F.lit(self.nomatch)
        k = key.cast("long")
        expr = F.lit(self.nomatch)
        # ascending CASE chain == binary-search result; constant-folded
        for kk, vv in zip(self.keys, self.vals):
            expr = F.when(k >= kk, F.lit(vv)).otherwise(expr)
        return expr

    # -- DataFrame form (for dims that are real tables) --------------------

    def as_dataframe(self, spark: SparkSession, key_col: str = "key",
                     val_col: str = "value") -> DataFrame:
        if self.kind == "sparseArray":
            rows = list(zip(self.keys, self.vals))
            return local_table(spark, rows, f"{key_col} long, {val_col} string")
        rows = [(str(k), str(v)) for k, v in self.mapping.items()]
        return local_table(spark, rows, f"{key_col} string, {val_col} string")


def local_table(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Small dimension data as a JVM-local relation (``LocalTableScan``).

    ``spark.createDataFrame(rows)`` over a Python list plans a scan of a
    Python RDD, so every query that broadcasts the dimension runs a
    Python-worker task to rebuild it. An Arrow table is handed to the
    JVM once, on the driver, and stays there."""
    st = StructType.fromDDL(schema)
    names = st.fieldNames()
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(st)
    )
    return spark.createDataFrame(table, st)


class LookupRegistry:
    """Named tables; missing table -> TABLE-NOT-FOUND
    (rainerscript.c:2506-2510)."""

    def __init__(self):
        self.tables: dict[str, LookupTable] = {}

    def add(self, table: LookupTable) -> "LookupRegistry":
        self.tables[table.name] = table
        return self

    def lookup(self, name: str, key: Column) -> Column:
        t = self.tables.get(name)
        if t is None:
            return F.lit(TABLE_NOT_FOUND)
        return t.lookup_expr(key)

    def reload(self, name: str, table: LookupTable | None, stub: str | None = None):
        """reload_lookup_table analog (ruleset.c:551-569): swap or stub."""
        if table is not None:
            self.tables[name] = table
        elif name in self.tables and stub is not None:
            old = self.tables[name]
            self.tables[name] = LookupTable(name, "stubbed", nomatch=old.nomatch, stub=stub)


def enrich_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    nomatch: dict[str, str] | None = None,
    how: str = "left",
) -> DataFrame:
    """Broadcast hash equi-join enrichment for DataFrame-shaped dims.

    This is THE scale path for dimensions too big for a literal map but
    far smaller than the fact table (tool/role dims at 10^12-turn scale):
    broadcast() pins a BroadcastHashJoin — zero shuffle of the fact side.
    ``nomatch`` fills per-column defaults like the reference's per-table
    nomatch value (lookup.h:95)."""
    out = fact.join(broadcast(dim), on=on, how=how)
    for col, default in (nomatch or {}).items():
        out = out.withColumn(col, F.coalesce(F.col(col), F.lit(default)))
    return out


def asof_enrich(
    fact: DataFrame,
    boundaries: list[tuple[int, str]],
    key: str | Column,
    out: str,
    nomatch: str = "",
) -> DataFrame:
    """As-of enrichment against a sorted boundary list (sparseArray).

    Compiled to a constant expression — O(log n) conceptually, O(n)
    CASE chain physically, but n is dim-size (tiny) and the fact side
    never shuffles. At 10^12 rows this is the only sane plan."""
    t = LookupTable("_asof", "sparseArray", dict(boundaries), nomatch=nomatch)
    k = F.col(key) if isinstance(key, str) else key
    return fact.withColumn(out, t.asof_expr(k))
