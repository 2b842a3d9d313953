"""HasLabel parameter-complete semantics vs the reference
(stdlib/udfs/labels.py:124-255): absent-label 'removed' checks,
min_label_age gating, error_on_empty fail-closed, manual filtering —
plus delay_action_by recording on mutations."""

import datetime

from pyspark.sql import functions as F

from osprey_spark.sml.compiler import RulesetCompiler

T0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

STATE_SCHEMA = (
    "entity_type string, entity_id string, label_name string, "
    "status int, created_at timestamp, expires_ts timestamp, apply_at timestamp"
)
EVENT_SCHEMA = "uid string, action_name string, ts timestamp"


def _state(spark):
    h = datetime.timedelta(hours=1)
    rows = [
        # u_new: added 30 min ago (too young for a 1h min age)
        ("User", "u_new", "bad", 1, T0 - h / 2, None, None),
        # u_old: added 3h ago
        ("User", "u_old", "bad", 1, T0 - 3 * h, None, None),
        # u_exp: added long ago but expired 1h ago
        ("User", "u_exp", "bad", 1, T0 - 9 * h, T0 - h, None),
        # u_rm: automatically removed
        ("User", "u_rm", "bad", 0, T0 - h, None, None),
        # u_man: manually added
        ("User", "u_man", "bad", 3, T0 - 2 * h, None, None),
        # u_other holds a different label only
        ("User", "u_other", "ok", 1, T0 - h, None, None),
    ]
    return spark.createDataFrame(rows, STATE_SCHEMA)


def _events(spark, ids):
    return spark.createDataFrame([(i, "evt", T0) for i in ids], EVENT_SCHEMA)


def _run(spark, sml, ids, label_state):
    df = _events(spark, ids)
    plan = RulesetCompiler(
        {"main.sml": sml}, input_schema=df.schema, action_name_col="action_name"
    ).compile()
    out = plan.apply(df, passthrough=["uid"], label_state=label_state)
    return {r["uid"]: r.asDict() for r in out.collect()}


ALL = ["u_new", "u_old", "u_exp", "u_rm", "u_man", "u_other", "u_none"]


def test_haslabel_added_and_absent_removed(spark):
    sml = """
U: Entity[str] = EntityJson(type='User', path='$.uid')
Added = HasLabel(entity=U, label='bad')
Removed = HasLabel(entity=U, label='bad', status='removed')
"""
    got = _run(spark, sml, ALL, _state(spark))
    assert {u: got[u]["Added"] for u in ALL} == {
        "u_new": True, "u_old": True, "u_exp": False, "u_rm": False,
        "u_man": True, "u_other": False, "u_none": False,
    }
    # reference labels.py:227-228: an ABSENT (or expired) label satisfies
    # status='removed' (unlabeled IS removed) unless manual=True
    assert {u: got[u]["Removed"] for u in ALL} == {
        "u_new": False, "u_old": False, "u_exp": True, "u_rm": True,
        "u_man": False, "u_other": True, "u_none": True,
    }


def test_haslabel_manual_and_min_age(spark):
    sml = """
U: Entity[str] = EntityJson(type='User', path='$.uid')
Manual = HasLabel(entity=U, label='bad', manual=True)
Auto = HasLabel(entity=U, label='bad', manual=False)
Seasoned = HasLabel(entity=U, label='bad', min_label_age=TimeDelta(hours=1))
ManualRemovedAbsent = HasLabel(entity=U, label='bad', status='removed', manual=True)
"""
    got = _run(spark, sml, ALL, _state(spark))
    assert {u: got[u]["Manual"] for u in ALL} == {
        "u_new": False, "u_old": False, "u_exp": False, "u_rm": False,
        "u_man": True, "u_other": False, "u_none": False,
    }
    assert got["u_new"]["Auto"] is True and got["u_man"]["Auto"] is False
    # min_label_age: only labels added MORE than 1h before the event count
    assert {u: got[u]["Seasoned"] for u in ("u_new", "u_old", "u_man", "u_none")} == {
        "u_new": False, "u_old": True, "u_man": True, "u_none": False,
    }
    # absent + status='removed' + manual=True → False (labels.py:228)
    assert got["u_none"]["ManualRemovedAbsent"] is False


def test_haslabel_error_on_empty(spark):
    sml = """
U: Entity[str] = EntityJson(type='User', path='$.uid')
Checked = HasLabel(entity=U, label='bad', error_on_empty=True)
"""
    got = _run(spark, sml, ["u_old", "u_other", "u_none"], _state(spark))
    # u_old holds labels → normal result; u_other holds SOME label → ok
    assert got["u_old"]["Checked"] is True
    assert got["u_other"]["Checked"] is False
    # u_none holds NO labels at all → fail closed: null + counted error
    assert got["u_none"]["Checked"] is None
    assert got["u_none"]["__error_count"] == 1
    assert got["u_old"]["__error_count"] == 0


def test_haslabel_no_state_defaults(spark):
    sml = """
U: Entity[str] = EntityJson(type='User', path='$.uid')
Added = HasLabel(entity=U, label='bad')
Removed = HasLabel(entity=U, label='bad', status='removed')
Checked = HasLabel(entity=U, label='bad', error_on_empty=True)
"""
    got = _run(spark, sml, ["u1"], None)
    assert got["u1"]["Added"] is False
    assert got["u1"]["Removed"] is True  # unlabeled IS removed
    # no state table at all → fail closed: null + one counted error
    assert got["u1"]["Checked"] is None
    assert got["u1"]["__error_count"] == 1


def test_haslabel_bad_status_rejected(spark):
    import pytest

    from osprey_spark.sml.compiler import SmlError

    df = _events(spark, ["u1"])
    with pytest.raises(SmlError, match="manual=True"):
        RulesetCompiler(
            {"main.sml": """
U: Entity[str] = EntityJson(type='User', path='$.uid')
X = HasLabel(entity=U, label='bad', status='manually_added')
"""},
            input_schema=df.schema,
            action_name_col="action_name",
        ).compile()


def test_delay_action_by_recorded(spark):
    sml = """
U: Entity[str] = EntityJson(type='User', path='$.uid')
Always = Rule(when_all=[], description='always')
WhenRules(rules_any=[Always], then=[
  LabelAdd(entity=U, label='slow', delay_action_by=TimeDelta(minutes=10)),
  LabelAdd(entity=U, label='fast'),
])
"""
    df = _events(spark, ["u1"])
    plan = RulesetCompiler(
        {"main.sml": sml}, input_schema=df.schema, action_name_col="action_name"
    ).compile()
    out = plan.apply(df, include_mutation_structs=True)
    rows = {r["label_name"]: r for r in plan.label_mutation_rows(out).collect()}
    assert rows["slow"]["apply_at"] == T0 + datetime.timedelta(minutes=10)
    assert rows["fast"]["apply_at"] == T0


def test_multi_reason_expiry_and_min_age(spark):
    """ADVICE r3 (medium): with multiple rows (reasons) per key the label
    is expired only when ALL reasons are expired (labels.py:215-222), and
    min_label_age is judged from the OLDEST non-expired created_at
    (labels.py:246-252) — both evaluated against each event's own
    timestamp. The old collapse kept only the newest created_at row, so a
    key whose newest reason expired while an older one was live resolved
    as absent, and min_label_age read the newest created_at."""
    h = datetime.timedelta(hours=1)
    rows = [
        # u_mix: old never-expiring reason + NEWER reason already expired
        # → still present; min age from the 9h-old live reason
        ("User", "u_mix", "bad", 1, T0 - 9 * h, None, None),
        ("User", "u_mix", "bad", 1, T0 - 2 * h, T0 - h, None),
        # u_yng: oldest reason EXPIRED, only a 30-min-old one live → the
        # 1h min-age gate must fail (oldest LIVE, not oldest overall)
        ("User", "u_yng", "bad", 1, T0 - 5 * h, T0 - 4 * h, None),
        ("User", "u_yng", "bad", 1, T0 - h / 2, None, None),
        # u_allexp: every reason expired → absent
        ("User", "u_allexp", "bad", 1, T0 - 9 * h, T0 - 2 * h, None),
        ("User", "u_allexp", "bad", 1, T0 - 6 * h, T0 - h, None),
        # u_rmlate: status comes from the latest created_at row (removed)
        ("User", "u_rmlate", "bad", 1, T0 - 3 * h, None, None),
        ("User", "u_rmlate", "bad", 0, T0 - h, None, None),
    ]
    state = spark.createDataFrame(rows, STATE_SCHEMA)
    sml = """
U: Entity[str] = EntityJson(type='User', path='$.uid')
Added = HasLabel(entity=U, label='bad')
Seasoned = HasLabel(entity=U, label='bad', min_label_age=TimeDelta(hours=1))
Removed = HasLabel(entity=U, label='bad', status='removed')
"""
    ids = ["u_mix", "u_yng", "u_allexp", "u_rmlate"]
    got = _run(spark, sml, ids, state)
    assert {u: got[u]["Added"] for u in ids} == {
        "u_mix": True, "u_yng": True, "u_allexp": False, "u_rmlate": False,
    }
    assert {u: got[u]["Seasoned"] for u in ids} == {
        "u_mix": True, "u_yng": False, "u_allexp": False, "u_rmlate": False,
    }
    assert {u: got[u]["Removed"] for u in ids} == {
        "u_mix": False, "u_yng": False, "u_allexp": True, "u_rmlate": True,
    }
