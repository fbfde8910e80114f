"""The scale-policy table: every rule flips exactly at its threshold,
the measured calibration points fall on the sides that set it, and every
env override wins when well-formed and fails loudly, naming the
variable, when not."""

from __future__ import annotations

import pytest

from assignment_2_dataengineering_spark.operators.scale_policy import (
    RULES,
    choose,
    override,
)

ENV_RULES = sorted(n for n, r in RULES.items() if r.env)

# (measure, value the measured winner needs) at the two tiers that
# bracket each crossover — the figures next to each rule
CALIBRATION = {
    "span_first_occurrence": [(36_822_902, "window"), (409_618_920, "join")],
    "materialize": [(1_500_000, "local_checkpoint"), (29_000_000, "disk_persist")],
    "psi_materialize": [(1_125_169, False), (108_053_139, True)],
    "graph_bucket": [(128_000_000, "hour"), (1_270_000_000, "hour")],
    "pagerank_cadence": [(246_386, 1), (1_596_386, 2)],
}

# per env override: a well-formed value, what it parses to, and junk
ENV_VALUES = {
    "span_first_occurrence": ("join", "join", ["Join", "auto_", ""]),
    "materialize": ("disk_persist", "disk_persist", ["replicated_checkpoint", ""]),
    "graph_bucket": ("minute", "minute", ["bogus", "week", "HOUR", ""]),
    "pagerank_cadence": ("3", 3, ["nope", "0", "-1", "2.5", ""]),
}


@pytest.mark.parametrize("name", sorted(RULES))
def test_rule_flips_at_threshold_and_matches_calibration(name):
    rule = RULES[name]
    assert choose(name, rule.threshold - 1) == rule.below
    assert choose(name, rule.threshold) == rule.above
    for measure, expected in CALIBRATION[name]:
        assert choose(name, measure) == expected


@pytest.mark.parametrize("name", ENV_RULES)
def test_env_override_wins_and_rejects_junk(name, monkeypatch):
    rule = RULES[name]
    raw, value, junk = ENV_VALUES[name]
    monkeypatch.delenv(rule.env, raising=False)
    assert override(name) is None
    monkeypatch.setenv(rule.env, "auto")
    assert override(name) is None
    monkeypatch.setenv(rule.env, raw)
    assert override(name) == value
    for bad in junk:
        monkeypatch.setenv(rule.env, bad)
        with pytest.raises(ValueError, match=rule.env):
            override(name)


def test_every_rule_is_tested():
    assert set(CALIBRATION) == set(RULES)
    assert set(ENV_VALUES) == set(ENV_RULES)
