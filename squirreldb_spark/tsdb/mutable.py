"""Mutable labels (A31/A32): tenant-scoped virtual labels.

Reference semantics (cassandra/mutable/processor.go:52-304): a mapping
``(tenant, mutable_name, mutable_value) -> (associated_name, [values])``
lets users query ``group="mygroup"`` and have it rewritten to
``instance=~"server1|server2"`` before the index search; matched series are
then *enriched* with the mutable label on the way out.

Spark mapping (SURVEY §1.5): the mapping is config-sized, so it lives
driver-side as plain rows (``MAPPING_SCHEMA`` fields as attributes), the
analogue of the reference's in-process cached store — resolving against it
runs no Spark job;

* **matcher rewrite** = resolve a mutable matcher (``=``, ``!=``, ``=~``
  or ``!~``) against the mapping and turn it into an ``isin(values)``
  filter on the associated label, a column or a key of the labels map
  (the regex-free equivalent of the reference's escaped-regex union);
* **result enrichment** = broadcast join adding the mutable column.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAPPING_SCHEMA = (
    "tenant string, mutable_name string, mutable_value string, "
    "associated_name string, associated_values array<string>"
)


class MutableLabelStore:
    """Management API over the mutable-label mapping (A31/A32 write side).

    The reference exposes POST/DELETE ``/mutable/names`` and
    ``/mutable/values`` (api/api.go:230-233) backed by two tables
    (cassandra/mutable/cassandra.go:78-96): per-tenant
    ``name -> associated_name`` registrations and
    ``(tenant, name, value) -> associated values`` sets. Rows live
    driver-side (config data); :meth:`rows` is the current mapping, read
    fresh by every request.
    """

    def __init__(self):
        #: (tenant, name) -> associated_name
        self._names: dict[tuple[str, str], str] = {}
        #: (tenant, name, value) -> [associated values]
        self._values: dict[tuple[str, str, str], list[str]] = {}

    # ------------------------------------------------------- mutations

    def set_name(self, tenant: str, name: str, associated_name: str) -> None:
        """POST /mutable/names: register a mutable label name."""
        self._names[(tenant, name)] = associated_name

    def delete_name(self, tenant: str, name: str) -> None:
        """DELETE /mutable/names: drop the name and its value sets
        (the reference cascades, mutable/cassandra.go DeleteLabelNames)."""
        self._names.pop((tenant, name), None)
        for key in [k for k in self._values if k[:2] == (tenant, name)]:
            del self._values[key]

    def set_values(self, tenant: str, name: str, value: str,
                   associated_values: list[str]) -> None:
        """POST /mutable/values: bind a mutable value to concrete ones."""
        if (tenant, name) not in self._names:
            raise ValueError(f"mutable label {name!r} not registered for {tenant!r}")
        self._values[(tenant, name, value)] = list(associated_values)

    def delete_values(self, tenant: str, name: str, value: str) -> None:
        """DELETE /mutable/values."""
        self._values.pop((tenant, name, value), None)

    # ----------------------------------------------------------- reads

    def rows(self) -> list:
        """The current mapping rows (``MAPPING_SCHEMA`` fields)."""
        from pyspark.sql import Row

        return [
            Row(
                tenant=t, mutable_name=n, mutable_value=v,
                associated_name=self._names[(t, n)],
                associated_values=list(vals),
            )
            for (t, n, v), vals in sorted(self._values.items())
        ]


def rewrite_filter(
    points: DataFrame,
    mapping: list,
    tenant: str,
    matcher,
    labels_map_col: str | None = None,
) -> DataFrame:
    """A31: rewrite ``matcher`` (a PromQL ``Matcher`` on a mutable label)
    to concrete values (reference cassandra/mutable/processor.go:52-241):
    the associated values of every mapping row whose mutable value
    satisfies it (any of the four ops) filter the associated label, a
    column of ``points`` or a key of ``labels_map_col``. A name the
    tenant never registered is an unknown label."""
    rows = [
        r for r in mapping
        if r.tenant == tenant and r.mutable_name == matcher.name
    ]
    if not rows:
        raise ValueError(f"unknown label {matcher.name!r}")
    values: set[str] = set()
    for r in rows:
        if matcher.op in ("=", "!="):
            hit = r.mutable_value == matcher.value
        else:
            hit = re.fullmatch(f"(?:{matcher.value})", r.mutable_value) is not None
        if hit != matcher.op.startswith("!"):
            values.update(r.associated_values)
    if not values:
        return points.filter(F.lit(False))
    assoc = rows[0].associated_name
    if assoc in points.columns:
        col = F.col(assoc).cast("string")
    elif labels_map_col is not None:
        col = F.element_at(F.col(labels_map_col), F.lit(assoc))
    else:
        raise ValueError(f"unknown associated label {assoc!r}")
    return points.filter(col.isin(sorted(values)))


def enrich(
    result: DataFrame, mapping: list, tenant: str, mutable_name: str
) -> DataFrame:
    """A32: attach the mutable label to result series via broadcast join
    on the associated column. The lookup side is a local relation built
    from the mapping rows, so enrichment itself runs no Spark job.
    """
    rows = [
        r for r in mapping
        if r.tenant == tenant and r.mutable_name == mutable_name
    ]
    if not rows:
        return result.withColumn(mutable_name, F.lit(None).cast("string"))
    assoc_names = {r.associated_name for r in rows}
    if len(assoc_names) > 1:
        # one mutable name must rewrite onto ONE concrete label (the
        # reference's mutable_label_names table keys (tenant, name) ->
        # one associated name); silently joining on rows[0]'s column
        # would mis-enrich the rest
        raise ValueError(
            f"mutable label {mutable_name!r} maps to multiple associated "
            f"names {sorted(assoc_names)} for tenant {tenant!r}"
        )
    col = rows[0].associated_name
    # one mutable value per concrete value (smallest wins, deterministic):
    # a concrete value bound to several mutable values would otherwise
    # FAN OUT every matching result row through the join, double-counting
    # downstream aggregations — enrichment must preserve row counts
    by_assoc: dict[str, str] = {}
    for r in sorted(rows, key=lambda r: r.mutable_value):
        for av in r.associated_values:
            by_assoc.setdefault(av, r.mutable_value)
    pairs = list(by_assoc.items())
    lookup = result.sparkSession.createDataFrame(
        pairs, f"associated_value string, {mutable_name} string"
    )
    return result.join(
        F.broadcast(lookup),
        result[col].cast("string") == lookup["associated_value"],
        "left",
    ).drop("associated_value")
