"""Index mapping: declared schema with per-field capability flags.

Reference semantics (``config/mapping/IndexMapping.scala:29-35``,
``config/FieldSchema.scala:20-35``): a static mapping declares every field
with flags — ``store``, ``sort``, ``facet``, ``filter``, ``required``, and
for text fields ``search`` — and a field may only be filtered/sorted/
faceted/searched if declared so; violations are USER ERRORS at query time
(reference ``api/query/retrieve/RetrieveQuery.scala:117-119`` sort check,
``api/filter/Predicate.scala:132-133`` filter check).

Also replicated:
- ``_id`` always injected (store+filter, never search)
  (``config/mapping/IndexMapping.scala:196-205``).
- wildcard field names ``prefix_*`` resolved against concrete lookups
  (``config/mapping/FieldName.scala:33-59``); concrete/wildcard collisions
  rejected at load (``IndexMapping.scala:225-246``).
- field type tags: text, text[], int, int[], long, long[], float, float[],
  double, double[], bool, geopoint, date, datetime, id
  (``config/FieldSchema.scala:461-483``).
- schema migration: add/delete/same-type-keep only
  (``IndexMapping.scala:104-135``).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

FIELD_TYPES = {
    "text", "text[]", "int", "int[]", "long", "long[]", "float", "float[]",
    "double", "double[]", "bool", "geopoint", "date", "datetime", "id",
}

SPARK_TYPE = {
    "text": "string", "text[]": "array<string>", "int": "int",
    "int[]": "array<int>", "long": "bigint", "long[]": "array<bigint>",
    "float": "float", "float[]": "array<float>", "double": "double",
    "double[]": "array<double>", "bool": "boolean",
    "geopoint": "struct<lat:double,lon:double>", "date": "date",
    "datetime": "timestamp", "id": "string",
}


class MappingError(ValueError):
    pass


@dataclass
class FieldSchema:
    name: str
    type: str = "text"
    store: bool = True
    sort: bool = False
    facet: bool = False
    filter: bool = False
    search: bool = False
    suggest: bool = False
    required: bool = False

    def __post_init__(self):
        if self.type not in FIELD_TYPES:
            raise MappingError(f"unknown field type {self.type!r} for {self.name!r}")
        if self.search and not self.type.startswith("text"):
            raise MappingError(f"field {self.name!r}: only text fields are searchable")

    @property
    def is_wildcard(self) -> bool:
        return self.name.endswith("_*") or self.name.startswith("*_")


ID_FIELD = FieldSchema(name="_id", type="id", store=True, filter=True, search=False)


@dataclass
class IndexMapping:
    name: str
    fields: dict = dc_field(default_factory=dict)  # name -> FieldSchema
    alias: str | None = None

    def __post_init__(self):
        self.fields.setdefault("_id", ID_FIELD)
        # wildcard/concrete collision check (reference IndexMapping.scala:225-246)
        wilds = [f for f in self.fields.values() if f.is_wildcard]
        for f in self.fields.values():
            if f.is_wildcard:
                continue
            for w in wilds:
                if _wildcard_matches(w.name, f.name):
                    raise MappingError(
                        f"concrete field {f.name!r} collides with wildcard {w.name!r}"
                    )

    @classmethod
    def from_dict(cls, d: dict) -> "IndexMapping":
        """YAML-shaped dict: {name, fields: {fname: {type, store, ...}}}."""
        fields = {
            fname: FieldSchema(name=fname, **spec) for fname, spec in d.get("fields", {}).items()
        }
        return cls(name=d["name"], fields=fields, alias=d.get("alias"))

    def lookup(self, name: str) -> FieldSchema | None:
        """Concrete name → schema, falling back to wildcard schemas
        (reference IndexMapping.scala:60-98)."""
        if name in self.fields:
            return self.fields[name]
        for f in self.fields.values():
            if f.is_wildcard and _wildcard_matches(f.name, name):
                return FieldSchema(**{**f.__dict__, "name": name})
        return None

    # --- capability checks (user errors, matching the reference) ---

    def require(self, name: str, capability: str) -> FieldSchema:
        f = self.lookup(name)
        if f is None:
            raise MappingError(f"field {name!r} is not declared in index {self.name!r}")
        if capability != "store" and not getattr(f, capability):
            raise MappingError(
                f"field {name!r} is not {capability}able in index {self.name!r} "
                f"(declare {capability}=true in the mapping)"
            )
        return f

    def migrate_check(self, new: "IndexMapping") -> list[str]:
        """Allowed: add field, delete field, keep same type. Type changes are
        rejected (reference IndexMapping.scala:104-135). Returns change log."""
        changes = []
        for name, f in new.fields.items():
            old = self.fields.get(name)
            if old is None:
                changes.append(f"add {name}")
            elif old.type != f.type:
                raise MappingError(
                    f"field {name!r}: type change {old.type} -> {f.type} is not allowed"
                )
        for name in self.fields:
            if name not in new.fields:
                changes.append(f"delete {name}")
        return changes


def _wildcard_matches(pattern: str, name: str) -> bool:
    if pattern.endswith("_*"):
        return name.startswith(pattern[:-1])
    if pattern.startswith("*_"):
        return name.endswith(pattern[1:])
    return False
