"""Governance on versioned tables: column masking policies and
row-access policies — the warehouse surface the reference delegates to
Snowflake's policy layer (``CREATE MASKING POLICY`` / ``CREATE ROW
ACCESS POLICY``), re-expressed as metadata-driven Catalyst projections
and filters. No UDFs anywhere: every mask is a codegen'd Column
expression, every row policy a pushdown-eligible predicate, so a
governed read costs what the equivalent SELECT would.

Policies live in a single per-table ``_governance.json`` sidecar —
deliberately NOT in the version manifests: access rules govern every
read of the table *including time travel* (reading last month's
version must not resurrect last month's weaker masking), and
attaching/detaching a policy must not move the table's data version.
The sidecar is replaced atomically (``write_json_sidecar``) and
carries a generation counter for compare-and-set.

Fail-closed postures throughout:
- an unknown ``principal`` (None) is never exempt from anything;
- a row policy whose predicate evaluates NULL HIDES the row (the
  opposite of CHECK's NULL-passes — access control errs dark);
- a masking policy naming a column the current schema no longer has
  makes ``read_governed`` REFUSE outright (loud beats silently
  exposing a renamed column's raw values);
- ``rename_column``/``drop_column`` refuse while a policy references
  the column (same posture as CHECK constraints: drop the policy
  first) — enforced via the ``governed_columns`` hook below.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from polygon_daily_market_data_pipeline_spark.operators.versioned import (
    _load_manifest,
    _manifests,
    read_version,
    write_json_sidecar,
)

_GOV_FILE = "_governance.json"

MASK_KINDS = ("null", "hash", "partial", "const")


def _gov_path(table_dir: str) -> str:
    return os.path.join(table_dir, _GOV_FILE)


def governance(table_dir: str) -> dict:
    """The table's current governance state:
    ``{"gen": int, "masks": {col: {...}}, "row_policies": {name:
    {...}}}`` — empty-state defaults when no policy was ever set.
    Pure metadata read."""
    p = _gov_path(table_dir)
    if not os.path.exists(p):
        return {"gen": 0, "masks": {}, "row_policies": {}}
    with open(p) as f:
        return json.load(f)


def _gov_lock(table_dir: str):
    """Exclusive advisory lock serializing governance read→publish
    cycles (ADVICE r13, medium): without it two concurrent policy
    attachments both read gen N and last-writer-wins, silently
    DROPPING one policy — exposure on a fail-closed surface. flock on
    a sidecar lockfile; every mutator below goes through this."""
    import contextlib

    @contextlib.contextmanager
    def _held():
        lock = _gov_path(table_dir) + ".lock"
        fd = os.open(lock, os.O_WRONLY | os.O_CREAT, 0o644)
        try:
            try:
                import fcntl

                fcntl.flock(fd, fcntl.LOCK_EX)
            except Exception:  # noqa: BLE001 — fcntl-less platform / NFS
                # ADVICE r14 (medium): degrading to no lock must not be
                # SILENT on a fail-closed surface. The atomic gen-claim
                # in _publish (O_CREAT|O_EXCL) still refuses concurrent
                # last-writer-wins, so warn rather than raise.
                import warnings

                warnings.warn(
                    f"governance flock unavailable on {lock}: mutators "
                    "are serialized only by the atomic gen-claim in "
                    "_publish (concurrent attempts will raise instead "
                    "of queueing)",
                    RuntimeWarning,
                    stacklevel=3,
                )
            yield
        finally:
            os.close(fd)

    return _held()


def _publish(table_dir: str, gov: dict) -> int:
    """Compare-and-set publish: ``gov`` must carry the generation the
    mutator READ; if the on-disk generation moved since, refuse
    loudly rather than last-writer-wins. The CAS is ATOMIC (ADVICE
    r14, medium): publishing gen N+1 requires creating the claim file
    ``<gov>.gen<N+1>`` with ``O_CREAT|O_EXCL`` — a filesystem-atomic
    operation even where flock is advisory-only or absent — so two
    mutators that both read gen N cannot both pass; exactly one wins
    the claim and the other raises. ``_gov_lock`` remains the primary
    guard (queueing instead of refusing); this is the backstop that
    now fails closed instead of check-then-write."""
    on_disk = int(governance(table_dir).get("gen", 0))
    read_gen = int(gov.get("gen", 0))
    if read_gen != on_disk:
        raise RuntimeError(
            f"concurrent governance modification on {table_dir}: read "
            f"gen {gov.get('gen', 0)} but on-disk gen is {on_disk} — "
            "re-read and retry"
        )
    claim = f"{_gov_path(table_dir)}.gen{on_disk + 1}"
    try:
        fd = os.open(claim, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
    except FileExistsError:
        raise RuntimeError(
            f"concurrent governance modification on {table_dir}: "
            f"generation {on_disk + 1} already claimed by another "
            "mutator — re-read and retry (a claim with no matching "
            f"published generation is a crashed publish; remove {claim} "
            "to recover)"
        ) from None
    os.close(fd)
    gov = {**gov, "gen": on_disk + 1}
    write_json_sidecar(_gov_path(table_dir), gov)
    # retire the previous generation's claim file; the CURRENT one must
    # survive (it is what makes the next concurrent publish refuse)
    try:
        os.unlink(f"{_gov_path(table_dir)}.gen{on_disk}")
    except OSError:
        pass
    return gov["gen"]


def _current_schema_fields(table_dir: str) -> dict:
    versions = _manifests(table_dir)
    if not versions:
        raise FileNotFoundError(f"no versions in {table_dir}")
    m = _load_manifest(table_dir, versions[-1])
    schema = m.get("schema")
    if schema is None:
        raise ValueError(
            f"governance on {table_dir} requires a schema-bearing "
            "manifest — overwrite the table once to record one"
        )
    return {f["name"]: f for f in schema["fields"]}


def set_masking_policy(
    spark: SparkSession,
    table_dir: str,
    col: str,
    kind: str,
    arg=None,
    exempt: "tuple[str, ...] | list[str]" = (),
) -> int:
    """Attach a masking policy to a column (replacing any prior one).
    Kinds — all type-preserving, all NULL-preserving (a mask never
    fabricates a value where none existed):

    - ``null``: every value reads as NULL.
    - ``hash``: deterministic tokenization — equal raw values mask to
      equal tokens, so joins/GROUP BYs on the masked column still
      work. Strings mask to sha2-256 hex; integral types to xxhash64
      wrapped back into the column's type. Other types refuse (no
      same-type token exists). An optional ``arg`` string is a SECRET
      KEY mixed into the hash (sha2(key‖value) / xxhash64(key, value))
      — without it a low-cardinality or guessable column is
      rainbow-table-able from the token alone.
    - ``partial``: strings only — last ``arg`` characters visible,
      the rest starred (the credit-card tail convention).
    - ``const``: every non-NULL value reads as ``arg`` cast to the
      column's type.

    ``exempt`` lists principals who read the raw column. Validation
    is set-time and schema-only (zero Spark jobs). Returns the new
    governance generation."""
    fields = _current_schema_fields(table_dir)
    if col not in fields:
        raise ValueError(
            f"no column {col!r} in {table_dir} ({sorted(fields)})"
        )
    if kind not in MASK_KINDS:
        raise ValueError(f"unknown mask kind {kind!r} (use {MASK_KINDS})")
    ftype = str(fields[col].get("type", ""))
    is_string = ftype == "string"
    is_integral = ftype in ("byte", "short", "integer", "long")
    if kind == "partial":
        if not is_string:
            raise ValueError(
                f"partial mask needs a string column; {col!r} is {ftype}"
            )
        if not isinstance(arg, int) or arg < 0:
            raise ValueError("partial mask arg = number of visible chars")
    if kind == "hash" and not (is_string or is_integral):
        raise ValueError(
            f"hash mask needs a string or integral column; {col!r} is "
            f"{ftype} — no same-type token exists (use 'null' or 'const')"
        )
    with _gov_lock(table_dir):
        gov = governance(table_dir)
        gov["masks"] = {
            **gov.get("masks", {}),
            col: {
                "kind": kind,
                "arg": arg,
                "exempt": sorted(set(exempt)),
                "type": ftype,
            },
        }
        return _publish(table_dir, gov)


def drop_masking_policy(table_dir: str, col: str) -> int:
    with _gov_lock(table_dir):
        gov = governance(table_dir)
        if col not in gov.get("masks", {}):
            raise ValueError(f"no masking policy on {col!r} in {table_dir}")
        gov["masks"] = {c: m for c, m in gov["masks"].items() if c != col}
        return _publish(table_dir, gov)


def set_row_access_policy(
    spark: SparkSession,
    table_dir: str,
    name: str,
    sql: str,
    exempt: "tuple[str, ...] | list[str]" = (),
) -> int:
    """Attach a named row-access policy: non-exempt principals see only
    rows where ``sql`` evaluates TRUE — NULL or FALSE hides the row
    (access control errs dark, unlike CHECK's NULL-passes). Multiple
    policies AND together. The predicate is validated against the
    current schema at set time (analysis only — zero Spark jobs).
    Returns the new governance generation."""
    probe = read_version(spark, table_dir).limit(0)
    try:
        probe.where(F.expr(sql).cast("boolean")).schema  # analysis check
    except Exception as e:  # noqa: BLE001
        raise ValueError(
            f"row policy {name!r} predicate does not analyze against "
            f"{table_dir}'s schema: {e}"
        ) from e
    with _gov_lock(table_dir):
        gov = governance(table_dir)
        gov["row_policies"] = {
            **gov.get("row_policies", {}),
            name: {"sql": sql, "exempt": sorted(set(exempt))},
        }
        return _publish(table_dir, gov)


def drop_row_access_policy(table_dir: str, name: str) -> int:
    with _gov_lock(table_dir):
        gov = governance(table_dir)
        if name not in gov.get("row_policies", {}):
            raise ValueError(f"no row policy {name!r} in {table_dir}")
        gov["row_policies"] = {
            n: p for n, p in gov["row_policies"].items() if n != name
        }
        return _publish(table_dir, gov)


def governed_columns(table_dir: str) -> "set[str]":
    """Columns any policy references — the rename/drop refusal set
    (``versioned.rename_column``/``drop_column`` consult this so a
    rename can never silently detach a mask and expose raw values).
    Row-policy references are detected the way CHECK references are:
    word-boundary match in the SQL string."""
    gov = governance(table_dir)
    cols = set(gov.get("masks", {}))
    for pol in gov.get("row_policies", {}).values():
        # every identifier in the predicate counts as referenced —
        # over-broad (keywords included) but refusal-side conservative
        cols |= set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", pol["sql"]))
    return cols


def _mask_expr(col: str, mask: dict, dtype) -> "F.Column":
    kind = mask["kind"]
    c = F.col(col)
    if kind == "null":
        return F.lit(None).cast(dtype)
    if kind == "hash":
        key = mask.get("arg")
        if isinstance(dtype, StringType):
            tok = (
                F.sha2(F.concat(F.lit(str(key)), c), 256)
                if key is not None
                else F.sha2(c, 256)
            )
            # keyed concat never sees NULL through (concat propagates
            # NULL), unkeyed sha2(NULL) is NULL — preserved either way
            return tok
        # integral: 64-bit token wrapped back into the column's type.
        # xxhash64(NULL) returns the seed, not NULL — guard explicitly.
        tok = (
            F.xxhash64(F.lit(str(key)), c) if key is not None else F.xxhash64(c)
        )
        return F.when(c.isNull(), F.lit(None).cast(dtype)).otherwise(
            tok.cast(dtype)
        )
    if kind == "partial":
        # Column API, not interpolated SQL (ADVICE r13): a column name
        # that is not a bare identifier (spaces, dashes, reserved
        # words) must mask, not blow up the governed read at analysis
        n = F.lit(int(mask["arg"]))
        return F.concat(
            F.repeat(F.lit("*"), F.greatest(F.length(c) - n, F.lit(0))),
            F.right(c, n),
        )
    if kind == "const":
        return F.when(c.isNull(), F.lit(None).cast(dtype)).otherwise(
            F.lit(mask["arg"]).cast(dtype)
        )
    raise ValueError(f"unknown mask kind {kind!r}")


_ACCESS_LOG = "_access_log.jsonl"


def access_history(table_dir: str) -> "list[dict]":
    """The table's access-history entries (newest last) — what
    ``read_governed(audit=True)`` recorded: who read, at which data
    version and governance generation, with which masks and row
    policies in force. Pure metadata read; empty when never audited."""
    p = os.path.join(table_dir, _ACCESS_LOG)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def read_governed(
    spark: SparkSession,
    table_dir: str,
    principal: "str | None" = None,
    audit: bool = False,
    **read_kwargs,
) -> DataFrame:
    """The table as ``principal`` is allowed to see it: ``read_version``
    (all its version/as_of/tag/partitions kwargs pass through — the
    CURRENT policies govern even time-travel reads) with non-exempt
    row policies applied as filters (NULL hides — fail closed) and
    non-exempt masks applied as projections. Row policies evaluate on
    RAW values, before masking (the Snowflake order). Refuses outright
    when a mask names a column the read's schema lacks — a policy that
    cannot be applied must never degrade to exposure.

    ``audit=True`` appends one access-history line (who read, which
    data version, governance generation, masks and row policies in
    force) to ``_access_log.jsonl`` — the warehouse ACCESS_HISTORY
    analog, read back by ``access_history``. The entry records the
    PLAN construction (this function builds a lazy DataFrame; Spark
    may evaluate it zero or many times), which is exactly when the
    policy decision was taken. One small O_APPEND line per call."""
    gov = governance(table_dir)
    df = read_version(spark, table_dir, **read_kwargs)
    applied_policies = []
    for name, pol in sorted(gov.get("row_policies", {}).items()):
        if principal is not None and principal in pol["exempt"]:
            continue
        applied_policies.append(name)
        df = df.where(
            F.coalesce(F.expr(pol["sql"]).cast("boolean"), F.lit(False))
        )
    masks = {
        c: m
        for c, m in gov.get("masks", {}).items()
        if principal is None or principal not in m["exempt"]
    }
    missing = set(masks) - set(df.columns)
    if missing:
        raise ValueError(
            f"masking policies on {sorted(missing)} reference columns "
            f"absent from this read of {table_dir} — refusing rather "
            "than exposing (drop or re-point the policies)"
        )
    if masks:
        dtypes = {f.name: f.dataType for f in df.schema.fields}
        df = df.select(
            *[
                _mask_expr(c, masks[c], dtypes[c]).alias(c)
                if c in masks
                else F.col(c)
                for c in df.columns
            ]
        )
    if audit:
        import datetime as _dt

        from polygon_daily_market_data_pipeline_spark.operators.versioned import (
            _resolve_manifest,
            resolve_tag,
        )

        # resolve the EFFECTIVE data version the same way read_version
        # did (honoring as_of/tag, not just version=) — the entry must
        # attribute which data the principal actually read (ADVICE r13)
        rv = read_kwargs.get("version")
        if read_kwargs.get("tag") is not None:
            rv = resolve_tag(table_dir, read_kwargs["tag"])
        eff_version = _resolve_manifest(
            table_dir, rv, read_kwargs.get("as_of")
        ).get("version")
        entry = {
            "ts": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            "principal": principal,
            "version": eff_version,
            "gen": gov.get("gen", 0),
            "masked_cols": sorted(masks),
            "row_policies": applied_policies,
        }
        with open(os.path.join(table_dir, _ACCESS_LOG), "a") as f:
            f.write(json.dumps(entry) + "\n")
    return df
