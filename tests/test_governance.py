"""Governance (round 13 continuation): masking + row-access policies
on versioned tables — metadata-driven Catalyst projections/filters
(operators/governance.py), the Snowflake policy-layer analog.

Fail-closed laws pinned here: unknown principal never exempt; NULL row
predicates hide; current policies govern time-travel reads; dangling
masks refuse rather than expose; rename/drop refuse governed columns.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polygon_daily_market_data_pipeline_spark.operators.governance import (
    drop_masking_policy,
    drop_row_access_policy,
    governance,
    governed_columns,
    read_governed,
    set_masking_policy,
    set_row_access_policy,
)
from polygon_daily_market_data_pipeline_spark.operators.versioned import (
    commit_version,
    drop_column,
    rename_column,
)

ROWS = [
    (1, "alice@example.com", "4111111111111234", 900, "US"),
    (2, "bob@example.com", "5500005555551111", 450, "DE"),
    (3, None, None, None, "US"),
    (4, "dana@example.com", "340000000000009", 780, "FR"),
]
SCHEMA = "id long, email string, card string, score int, region string"


@pytest.fixture()
def gov_table(spark, tmp_path):
    tdir = str(tmp_path / "t")
    commit_version(spark.createDataFrame(ROWS, SCHEMA), tdir)
    return tdir


def _by_id(df):
    return {r["id"]: r for r in df.collect()}


def test_mask_kinds_type_and_null_preserving(spark, gov_table):
    set_masking_policy(spark, gov_table, "email", "hash")
    set_masking_policy(spark, gov_table, "card", "partial", arg=4)
    set_masking_policy(spark, gov_table, "score", "const", arg=0)
    out = read_governed(spark, gov_table)
    assert dict(out.dtypes) == dict(
        spark.createDataFrame(ROWS, SCHEMA).dtypes
    )  # every mask is type-preserving
    rows = _by_id(out)
    # hash: deterministic token, not the raw value, equal-to-equal
    assert rows[1]["email"] != "alice@example.com"
    assert rows[1]["email"] == _by_id(read_governed(spark, gov_table))[1]["email"]
    # partial: only the tail visible
    assert rows[1]["card"] == "*" * 12 + "1234"
    assert rows[4]["card"] == "*" * 11 + "0009"
    # const
    assert rows[2]["score"] == 0
    # NULLs stay NULL under every mask — nothing fabricated
    assert rows[3]["email"] is None
    assert rows[3]["card"] is None
    assert rows[3]["score"] is None


def test_hash_mask_integral_keeps_join_keys(spark, gov_table):
    set_masking_policy(spark, gov_table, "id", "hash")
    out = read_governed(spark, gov_table)
    ids = [r["id"] for r in out.collect()]
    assert len(set(ids)) == 4 and set(ids) != {1, 2, 3, 4}
    assert dict(out.dtypes)["id"] == "bigint"


def test_exemption_and_unknown_principal(spark, gov_table):
    set_masking_policy(spark, gov_table, "email", "null", exempt=["auditor"])
    assert _by_id(read_governed(spark, gov_table, principal="auditor"))[1][
        "email"
    ] == "alice@example.com"
    assert _by_id(read_governed(spark, gov_table, principal="analyst"))[1][
        "email"
    ] is None
    # None principal = least privilege
    assert _by_id(read_governed(spark, gov_table))[1]["email"] is None


def test_row_policies_and_null_hides(spark, gov_table):
    set_row_access_policy(
        spark, gov_table, "us_only", "region = 'US'", exempt=["admin"]
    )
    # NULL predicate hides: score IS NULL for id=3 → NULL > comparison
    set_row_access_policy(spark, gov_table, "scored", "score > 100")
    ids = {r["id"] for r in read_governed(spark, gov_table).collect()}
    assert ids == {1}  # AND of both policies; id=3's NULL hides it
    admin_ids = {
        r["id"]
        for r in read_governed(spark, gov_table, principal="admin").collect()
    }
    assert admin_ids == {1, 2, 4}  # exempt from us_only, not from scored
    drop_row_access_policy(gov_table, "scored")
    ids2 = {r["id"] for r in read_governed(spark, gov_table).collect()}
    assert ids2 == {1, 3}


def test_policies_govern_time_travel_and_later_commits(spark, gov_table):
    set_masking_policy(spark, gov_table, "email", "null")
    commit_version(
        spark.createDataFrame([(9, "eve@example.com", None, 1, "US")], SCHEMA),
        gov_table,
        mode="append",
    )
    assert _by_id(read_governed(spark, gov_table))[9]["email"] is None
    # time travel to v0 (pre-policy data state): CURRENT policy applies
    v0 = read_governed(spark, gov_table, version=0)
    assert all(r["email"] is None for r in v0.collect())


def test_set_time_validation(spark, gov_table):
    with pytest.raises(ValueError, match="no column"):
        set_masking_policy(spark, gov_table, "ssn", "null")
    with pytest.raises(ValueError, match="unknown mask kind"):
        set_masking_policy(spark, gov_table, "email", "rot13")
    with pytest.raises(ValueError, match="string column"):
        set_masking_policy(spark, gov_table, "score", "partial", arg=2)
    with pytest.raises(ValueError, match="does not analyze"):
        set_row_access_policy(spark, gov_table, "bad", "no_such_col = 1")


def test_rename_drop_refuse_governed_columns(spark, gov_table):
    set_masking_policy(spark, gov_table, "email", "null")
    set_row_access_policy(spark, gov_table, "us_only", "region = 'US'")
    with pytest.raises(ValueError, match="policy"):
        rename_column(gov_table, "email", "mail")
    with pytest.raises(ValueError, match="policy"):
        drop_column(gov_table, "region")
    drop_masking_policy(gov_table, "email")
    drop_row_access_policy(gov_table, "us_only")
    rename_column(gov_table, "email", "mail")  # now fine
    assert "mail" in read_governed(spark, gov_table).columns


def test_dangling_mask_refuses_not_exposes(spark, gov_table):
    import json
    import os

    set_masking_policy(spark, gov_table, "email", "null")
    # simulate a policy orphaned outside the API (the API itself
    # refuses renames) — a hand-edited or future-schema sidecar
    gp = os.path.join(gov_table, "_governance.json")
    with open(gp) as f:
        gov = json.load(f)
    gov["masks"]["ghost_col"] = gov["masks"]["email"]
    with open(gp, "w") as f:
        json.dump(gov, f)
    with pytest.raises(ValueError, match="refusing"):
        read_governed(spark, gov_table)


def test_generation_counter_and_state(spark, gov_table):
    g1 = set_masking_policy(spark, gov_table, "email", "null")
    g2 = set_row_access_policy(spark, gov_table, "p", "id > 0")
    assert g2 == g1 + 1
    gov = governance(gov_table)
    assert gov["gen"] == g2
    assert set(gov["masks"]) == {"email"}
    assert governed_columns(gov_table) >= {"email", "id"}


def test_keyed_hash_tokenization(spark, gov_table):
    set_masking_policy(spark, gov_table, "email", "hash", arg="s3cret")
    keyed = _by_id(read_governed(spark, gov_table))[1]["email"]
    drop_masking_policy(gov_table, "email")
    set_masking_policy(spark, gov_table, "email", "hash")
    unkeyed = _by_id(read_governed(spark, gov_table))[1]["email"]
    import hashlib

    # unkeyed token is the plain sha2 an attacker could rainbow-table;
    # the keyed token is sha2(key || value) — different, and NULL-safe
    assert unkeyed == hashlib.sha256(b"alice@example.com").hexdigest()
    assert keyed == hashlib.sha256(b"s3cretalice@example.com").hexdigest()
    assert keyed != unkeyed
    drop_masking_policy(gov_table, "email")
    set_masking_policy(spark, gov_table, "id", "hash", arg="s3cret")
    ids = {r["id"] for r in read_governed(spark, gov_table).collect()}
    assert len(ids) == 4 and ids != {1, 2, 3, 4}  # distinct keyed tokens


def test_access_history_audit(spark, gov_table):
    from polygon_daily_market_data_pipeline_spark.operators.governance import (
        access_history,
    )

    assert access_history(gov_table) == []
    set_masking_policy(spark, gov_table, "email", "hash")
    set_row_access_policy(spark, gov_table, "us", "region = 'US'")
    read_governed(spark, gov_table, principal="analyst", audit=True)
    read_governed(spark, gov_table, principal="analyst")  # unaudited
    commit_version(
        spark.createDataFrame([(9, None, None, 1, "US")], SCHEMA),
        gov_table,
        mode="append",
    )
    read_governed(spark, gov_table, audit=True)
    hist = access_history(gov_table)
    assert len(hist) == 2
    assert hist[0]["principal"] == "analyst" and hist[0]["version"] == 0
    assert hist[0]["masked_cols"] == ["email"]
    assert hist[0]["row_policies"] == ["us"]
    assert hist[1]["principal"] is None and hist[1]["version"] == 1
    assert hist[1]["gen"] == 2


def test_concurrent_policy_attachments_both_survive(spark, gov_table):
    """ADVICE r13 (medium): the read→publish cycle raced — two
    concurrent attachments could both read gen N and the last writer
    silently dropped the other's policy. The _gov_lock serializes
    them; both must be present afterwards."""
    import threading

    errs = []

    def attach_mask():
        try:
            set_masking_policy(spark, gov_table, "email", "null")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def attach_row():
        try:
            set_row_access_policy(spark, gov_table, "us", "region = 'US'")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [
        threading.Thread(target=f)
        for f in (attach_mask, attach_row, attach_mask, attach_row)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    gov = governance(gov_table)
    assert "email" in gov["masks"] and "us" in gov["row_policies"]
    assert gov["gen"] == 4  # one generation per publish, none lost


def test_publish_cas_refuses_stale_generation(spark, gov_table):
    """Defense in depth behind the lock: a publish carrying a stale
    read generation refuses instead of last-writer-wins."""
    from polygon_daily_market_data_pipeline_spark.operators.governance import (
        _publish,
    )

    stale = governance(gov_table)  # gen 0
    set_masking_policy(spark, gov_table, "email", "null")  # gen -> 1
    stale["masks"] = {}
    with pytest.raises(RuntimeError, match="concurrent governance"):
        _publish(gov_table, stale)
    # the attached policy survived the refused write
    assert "email" in governance(gov_table)["masks"]


def test_publish_gen_claim_is_atomic(spark, gov_table):
    """ADVICE r14 (medium): the CAS backstop is no longer
    check-then-write — publishing gen N+1 atomically claims
    ``<gov>.gen<N+1>`` with O_CREAT|O_EXCL, so two mutators that BOTH
    read gen N cannot both pass even where flock degrades (NFS,
    fcntl-less hosts): exactly one wins, the other raises with the
    recovery path in the message."""
    import os

    from polygon_daily_market_data_pipeline_spark.operators.governance import (
        _gov_path,
        _publish,
    )

    set_masking_policy(spark, gov_table, "email", "null")  # gen -> 1
    cur = governance(gov_table)
    # simulate the loser of a claim race: the winner already created
    # the gen-2 claim file but its sidecar write hasn't landed yet —
    # the old check-then-write CAS would have let this publish through
    claim = f"{_gov_path(gov_table)}.gen2"
    fd = os.open(claim, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
    os.close(fd)
    with pytest.raises(RuntimeError, match="already claimed"):
        _publish(gov_table, cur)
    # recovery path named in the message works: remove the stale claim
    os.unlink(claim)
    assert _publish(gov_table, cur) == 2
    # each successful publish retires the PREVIOUS generation's claim
    # and leaves the current one guarding the next race
    assert os.path.exists(f"{_gov_path(gov_table)}.gen2")
    assert not os.path.exists(f"{_gov_path(gov_table)}.gen1")


def test_rename_drop_refusal_is_case_insensitive(spark, gov_table):
    """ADVICE r13: Spark resolves identifiers case-insensitively, so a
    policy written "REGION = 'US'" must block rename/drop of 'region'
    with the friendly refusal, not let it through to a later
    AnalysisException on the governed read."""
    set_row_access_policy(spark, gov_table, "us", "REGION = 'US'")
    with pytest.raises(ValueError, match="policy"):
        rename_column(gov_table, "region", "geo")
    with pytest.raises(ValueError, match="policy"):
        drop_column(gov_table, "region")
    set_masking_policy(spark, gov_table, "EMAIL".lower(), "null")
    read_governed(spark, gov_table).collect()  # still analyzes fine


def test_partial_mask_on_non_bare_identifier(spark, tmp_path):
    """ADVICE r13: the partial mask is built with the Column API, so a
    column name that is not a bare SQL identifier (dash) masks instead
    of breaking the governed read at analysis time."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    tdir = str(tmp_path / "dashcol")
    schema = StructType(
        [StructField("id", LongType()), StructField("card-no", StringType())]
    )
    commit_version(
        spark.createDataFrame([(1, "4111111111111234"), (2, None)], schema),
        tdir,
    )
    set_masking_policy(spark, tdir, "card-no", "partial", arg=4)
    rows = {r["id"]: r for r in read_governed(spark, tdir).collect()}
    assert rows[1]["card-no"] == "*" * 12 + "1234"
    assert rows[2]["card-no"] is None


def test_audit_attributes_effective_version_for_asof_and_tag(spark, gov_table):
    """ADVICE r13: the access-history entry must record the data
    version the principal ACTUALLY read (honoring as_of/tag), not the
    table's latest."""
    from polygon_daily_market_data_pipeline_spark.operators.governance import (
        access_history,
    )
    from polygon_daily_market_data_pipeline_spark.operators.versioned import (
        _load_manifest,
        create_tag,
    )

    create_tag(gov_table, "first")  # pins version 0
    commit_version(
        spark.createDataFrame([(9, None, None, 1, "US")], SCHEMA),
        gov_table,
        mode="append",
    )
    read_governed(spark, gov_table, tag="first", audit=True)
    read_governed(
        spark,
        gov_table,
        as_of=_load_manifest(gov_table, 0)["committed_at"],
        audit=True,
    )
    read_governed(spark, gov_table, audit=True)
    versions = [e["version"] for e in access_history(gov_table)]
    assert versions == [0, 0, 1]
