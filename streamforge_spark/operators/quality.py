"""Schema & constraint enforcement with dead-lettering.

Reference:
- ``pattern/schema/SchemaEnforcer.java:66-104`` + ``SchemaVersion.java:
  19-69`` — validate a JSON payload against an allowlist of schema
  versions (newest first); first fully-valid version passes the record;
  all-fail → DLQ(SCHEMA_VIOLATION) with per-version violations.
- ``pattern/quality/ConstraintEnforcer.java:29-91`` + rules
  (NotNullRule/RangeRule/FormatRule) — any violated rule → DLQ
  (CONSTRAINT_VIOLATION).

Spark-first: every version/rule compiles to a boolean Column; validity
is computed once per row in one pass and the pass/DLQ split happens at
the end (no 9-extra-passes, SURVEY §7.5#7). Typed checks on the
schema-less JSON payload use get_json_object + casts (§7.5#6).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from streamforge_spark.pipeline import dlq_event

EMAIL_RE = r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$"
DATE_RE = r"^\d{4}-\d{2}-\d{2}$"
NUMBER_RE = r"^-?\d+(\.\d+)?([eE][+-]?\d+)?$"


def _json_field(payload_col: str, fld: str) -> Column:
    return F.get_json_object(F.col(payload_col), f"$.{fld}")


@dataclass
class SchemaVersion:
    """Declarative payload schema (SchemaVersion.java:19-46).

    required: {field: type} with type in {string, number, boolean,
    map, list, any} (FieldType enum, SchemaVersion.java:52-58);
    optional: extra allowed fields; strict rejects unknown fields.
    """
    name: str
    required: dict[str, str] = field(default_factory=dict)
    optional: tuple[str, ...] = ()
    strict: bool = False

    def valid(self, payload_col: str) -> Column:
        checks: list[Column] = [F.col(payload_col).isNotNull()]
        for fld, ftype in self.required.items():
            v = _json_field(payload_col, fld)
            c = v.isNotNull()
            if ftype == "number":
                c = c & v.rlike(NUMBER_RE)
            elif ftype == "boolean":
                c = c & v.isin("true", "false")
            elif ftype == "map":
                c = c & v.startswith("{")
            elif ftype == "list":
                c = c & v.startswith("[")
            # string / any: presence is enough (runtime-type check is
            # coarse in the reference too)
            checks.append(c)
        if self.strict:
            allowed = set(self.required) | set(self.optional)
            keys = F.map_keys(F.from_json(F.col(payload_col), "map<string,string>"))
            checks.append(F.size(F.array_except(keys, F.array(*[F.lit(a) for a in allowed]))) == 0)
        out = checks[0]
        for c in checks[1:]:
            out = out & c
        return out


def schema_enforcer(df: DataFrame, payload_col: str,
                    versions: list[SchemaVersion],
                    source: str = "schema-enforcer") -> tuple[DataFrame, DataFrame]:
    """Pass rows valid under ANY version; rest → DLQ(SCHEMA_VIOLATION).
    Passed rows carry ``_schema_version`` = the first (newest-first)
    version that validated them, mirroring SchemaEnforcer.java:71-79's
    claim order."""
    any_ok = F.lit(False)
    version_tags = []
    for v in versions:
        ok = v.valid(payload_col)
        version_tags.append(F.when(ok & ~any_ok, F.lit(v.name)))
        any_ok = any_ok | ok
    tagged = df.withColumn("_schema_ok", any_ok)
    passed = (tagged.filter(F.col("_schema_ok")).drop("_schema_ok")
              .withColumn("_schema_version", F.coalesce(*version_tags)))
    failed = tagged.filter(~F.col("_schema_ok")).drop("_schema_ok")
    dlq = dlq_event(
        failed, "SCHEMA_VIOLATION",
        F.lit(f"no schema version matched (tried {[v.name for v in versions]})"),
        source,
    )
    return passed, dlq


# --- constraint rules: (name, boolean Column) pairs -------------------

def not_null_rule(col: Column | str, name: str | None = None) -> tuple[str, Column]:
    c = F.col(col) if isinstance(col, str) else col
    return (name or "not_null", c.isNotNull())


def range_rule(col: Column | str, lo: float, hi: float,
               name: str | None = None) -> tuple[str, Column]:
    """Missing field passes; present non-numeric fails; numeric must be
    in [lo, hi] (RangeRule.java:7-35)."""
    c = F.col(col) if isinstance(col, str) else col
    num = c.cast("double")
    return (name or "range", c.isNull() | (num.isNotNull() & num.between(lo, hi)))


def format_rule(col: Column | str, regex: str,
                name: str | None = None) -> tuple[str, Column]:
    c = F.col(col) if isinstance(col, str) else col
    return (name or "format", c.isNull() | c.cast("string").rlike(regex))


def email_rule(col: Column | str) -> tuple[str, Column]:
    return format_rule(col, EMAIL_RE, "email")


def date_rule(col: Column | str) -> tuple[str, Column]:
    return format_rule(col, DATE_RE, "date")


def constraint_enforcer(df: DataFrame, rules: list[tuple[str, Column]],
                        source: str = "constraint-enforcer") -> tuple[DataFrame, DataFrame]:
    """All rules must hold; violations → DLQ(CONSTRAINT_VIOLATION) with
    the violated rule names concatenated (ConstraintEnforcer.java:
    53-91). A rule Column evaluating to SQL NULL counts as VIOLATED —
    the reference dead-letters every non-passing record, and without
    the coalesce a NULL row would vanish from both branches."""
    safe = [(name, F.coalesce(cond, F.lit(False))) for name, cond in rules]
    all_ok = F.lit(True)
    for _, cond in safe:
        all_ok = all_ok & cond
    violations = F.concat_ws(
        "; ", *[F.when(~cond, F.lit(name)) for name, cond in safe])
    tagged = df.withColumn("_ok", all_ok).withColumn("_violations", violations)
    passed = tagged.filter(F.col("_ok")).drop("_ok", "_violations")
    failed = tagged.filter(~F.col("_ok"))
    dlq = dlq_event(
        failed.drop("_ok"), "CONSTRAINT_VIOLATION",
        F.col("_violations"), source,
    ).drop("_violations")
    return passed, dlq


# --- schema migration: versioned payload upcasting --------------------

@dataclass(frozen=True)
class SchemaMigration:
    """One step of a payload upcast chain (v_from -> v_to).

    The reference's SchemaEnforcer tolerates multiple live payload
    versions (SchemaVersion.java newest-first claim order) but leaves
    them as-is; downstream consumers then carry per-version branches
    forever. A migrator closes that gap: every admitted payload is
    upcast to the NEWEST version through a declarative chain, so
    consumers see exactly one shape.

    Declarative on purpose: rename/drop/defaults compile to JVM-side
    map expressions (transform_keys / map_filter / map_concat over
    ``from_json(payload, map<string,string>)``) — whole-stage codegen,
    no Python in the row path.

    Renames must be injective and must not target a key the payload
    still carries: a collision produces duplicate map keys and raises
    at runtime (spark.sql.mapKeyDedupPolicy=EXCEPTION) — loud by
    design, since silently last-writer-winning a payload field is a
    data-loss bug.
    """
    v_from: str
    v_to: str
    rename: tuple[tuple[str, str], ...] = ()
    defaults: tuple[tuple[str, str], ...] = ()
    drop: tuple[str, ...] = ()
    #: unconditional overwrites (e.g. bumping an in-payload
    #: schema_version field to v_to) — applied last
    set: tuple[tuple[str, str], ...] = ()

    def apply(self, mc: Column) -> Column:
        if self.rename:
            def _newk(k: Column) -> Column:
                expr = k
                for old, new in self.rename:
                    expr = F.when(k == old, F.lit(new)).otherwise(expr)
                return expr
            mc = F.transform_keys(mc, lambda k, v: _newk(k))
        if self.drop:
            mc = F.map_filter(mc, lambda k, v: ~k.isin(*self.drop))
        if self.defaults:
            dmap = F.map_from_arrays(
                F.array(*[F.lit(k) for k, _ in self.defaults]),
                F.array(*[F.lit(v) for _, v in self.defaults]))
            # only keys absent from the payload — map_concat would
            # throw on duplicates (spark.sql.mapKeyDedupPolicy)
            missing = F.map_filter(
                dmap, lambda k, v: ~F.array_contains(F.map_keys(mc), k))
            mc = F.map_concat(mc, missing)
        if self.set:
            keys = [k for k, _ in self.set]
            smap = F.map_from_arrays(
                F.array(*[F.lit(k) for k in keys]),
                F.array(*[F.lit(v) for _, v in self.set]))
            mc = F.map_concat(
                F.map_filter(mc, lambda k, v: ~k.isin(*keys)), smap)
        return mc


def schema_migrator(df: DataFrame, payload_col: str, version: Column,
                    migrations: list[SchemaMigration],
                    source: str = "schema-migrator",
                    ) -> tuple[DataFrame, DataFrame]:
    """Upcast every payload to the newest version in one pass.

    ``version`` tags each row's CURRENT payload version; rows at
    ``migrations[i].v_from`` flow through steps i..end, rows already
    at the final ``v_to`` pass unchanged, and rows at an unknown
    version dual-output to the DLQ (SCHEMA_UNMIGRATABLE) — the
    DLQPublisher protocol, same as the enforcer.

    Migrated rows carry ``_schema_version`` (the target everyone now
    shares) and ``_migrated_from``. One projection, no shuffle, no
    UDF: the whole chain is a single CASE over composed map
    expressions.

    The map steps operate on ``map<string,string>``, so they are only
    lossless for FLAT payloads whose JSON values are all strings (or
    null) — ``from_json`` silently coerces numbers/booleans/nested
    values to strings (``{"amt": 100}`` would become
    ``{"amt":"100"}``).  Two guards keep that coercion out of real
    data (advisor r9):

    * rows already at the target version pass their payload through
      BYTE-IDENTICAL — they never round-trip through the map type;
    * rows that do need migrating are structurally checked first —
      the payload re-serialized from ``map<string,string>`` must equal
      the same payload re-serialized from the type-preserving VARIANT
      parse (``try_parse_json``); any mismatch means a value the map
      type would re-type, and the row dual-outputs to the DLQ as
      ``SCHEMA_NONFLAT_PAYLOAD`` instead of being silently mangled
      (unparseable JSON fails the same check — both sides NULL — and
      lands in the same DLQ class rather than emitting a null
      payload).
    """
    if not migrations:
        raise ValueError("schema_migrator needs at least one migration")
    for a, b in zip(migrations, migrations[1:]):
        if a.v_to != b.v_from:
            raise ValueError(f"broken chain: {a.v_to!r} -> {b.v_from!r}")
    target = migrations[-1].v_to
    starts = [m.v_from for m in migrations]
    known = starts + [target]

    mc0 = F.from_json(F.col(payload_col), "map<string,string>")
    migrated = None
    for i, start in enumerate(starts):
        mc = mc0
        for step in migrations[i:]:
            mc = step.apply(mc)
        migrated = (F.when if migrated is None else migrated.when)(
            version == start, mc)
    # flat iff the lossy map parse re-serializes to the same JSON as
    # the type-preserving VARIANT parse; NULL (unparseable) is not
    # flat.  The variant encoding sorts object keys, so the map side
    # is entry-sorted before serializing to compare order-insensitively.
    # PINNED ASSUMPTION (advisor r10): to_json(try_parse_json(x))
    # emits object keys in SORTED order — this is the Spark 4 variant
    # binary encoding (sorted dictionary), not a documented contract.
    # tests/test_operators.py::test_schema_migrator_unsorted_flat_keys
    # fails loudly if a Spark upgrade changes it; without that test an
    # ordering change would silently divert every flat payload with
    # unsorted keys to the SCHEMA_NONFLAT_PAYLOAD DLQ.
    flat = F.coalesce(
        F.to_json(F.map_from_entries(F.array_sort(F.map_entries(mc0))))
        == F.to_json(F.try_parse_json(F.col(payload_col))),
        F.lit(False))

    tagged = df.withColumn("_v", version)
    at_target = F.col("_v") == target
    ok = (tagged.filter(F.col("_v").isin(known) & (at_target | flat))
          .withColumn(payload_col,
                      F.when(at_target, F.col(payload_col))
                       .otherwise(F.to_json(migrated)))
          .withColumn("_migrated_from", F.col("_v"))
          .withColumn("_schema_version", F.lit(target))
          .drop("_v"))
    unknown = tagged.filter(~F.col("_v").isin(known) | F.col("_v").isNull())
    dlq = dlq_event(
        unknown.drop("_v"), "SCHEMA_UNMIGRATABLE",
        F.concat(F.lit("unknown payload version "),
                 F.coalesce(version.cast("string"), F.lit("<null>")),
                 F.lit(f" (chain {' -> '.join(known)})")),
        source)
    nonflat = tagged.filter(
        F.col("_v").isin(starts) & ~at_target & ~flat)
    dlq_nonflat = dlq_event(
        nonflat.drop("_v"), "SCHEMA_NONFLAT_PAYLOAD",
        F.concat(F.lit("payload at version "), version.cast("string"),
                 F.lit(" is not a flat string map — the map<string,"
                       "string> migration steps would re-type its "
                       "values")),
        source)
    return ok, dlq.unionByName(dlq_nonflat)


def migrations_from_json(spec: str) -> list[SchemaMigration]:
    """Parse a config-carried migration chain.

    Spec: JSON list of steps, each ``{"from": "v1", "to": "v2",
    "rename": {"old": "new"}, "defaults": {"key": "value"},
    "drop": ["key"]}`` — the declarative subset is exactly what
    :class:`SchemaMigration` compiles to JVM map expressions, so a
    chain shipped through job config (ScopedConfig, the reference's
    ScopedConfig.java surface) needs no code change to deploy.
    """
    import json
    steps = json.loads(spec)
    return [SchemaMigration(
                v_from=s["from"], v_to=s["to"],
                rename=tuple((k, v) for k, v in s.get("rename", {}).items()),
                defaults=tuple((k, v) for k, v in s.get("defaults", {}).items()),
                drop=tuple(s.get("drop", ())),
                set=tuple((k, v) for k, v in s.get("set", {}).items()))
            for s in steps]
