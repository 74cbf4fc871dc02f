"""Unit tests for bench.py's repeat/report protocol (pure functions —
no Spark). The protocol exists because single-run timings produced
phantom regressions in rounds 4 and 5:

- r4: sub-second keys spiked 5-7x on their only run;
- r5: slow streaming keys spiked 2.4x on their only run and the old
  runs[0]-only trigger never re-ran them (ADVICE r5, bench.py:76).
"""

from __future__ import annotations

import bench


def test_fast_key_repeats_to_three_runs():
    assert bench.should_repeat([0.4], prior=0.4)
    assert bench.should_repeat([0.4, 0.5], prior=0.4)
    assert not bench.should_repeat([0.4, 0.5, 0.4], prior=0.4)


def test_slow_steady_key_single_run():
    # 22 s key at its prior timing: no repeats, bench cost stays flat
    assert not bench.should_repeat([22.0], prior=21.5)


def test_slow_key_spike_triggers_rerun():
    # r5 mode: streaming key at 3.6 s prior spikes to 9.6 on run 1
    assert bench.should_repeat([9.6], prior=3.6)
    # second run comes back normal -> stop (above noise floor, no spike)
    assert not bench.should_repeat([9.6, 3.7], prior=3.6)


def test_first_run_spike_on_fast_key_still_repeats():
    # ADVICE r5: normally-sub-2s key spikes above 2 s on run 1; the old
    # runs[0]-rule stopped, reporting the spike. min(runs) keeps going.
    assert bench.should_repeat([2.4], prior=0.5)      # spike vs prior
    assert bench.should_repeat([2.4, 0.5], prior=0.5)  # now fast -> 3rd run


def test_heavy_key_moderate_swing_triggers_confirmation_run():
    # VERDICT r6 #5: ml_cross_validate's 22.3 -> 31.4 s (1.41x) swing
    # escaped the 1.5x trigger; heavy keys (prior >= 10 s) confirm at
    # 1.25x instead.
    assert bench.should_repeat([31.4], prior=22.3)
    # second run back near prior -> stop (slow key, no further repeats)
    assert not bench.should_repeat([31.4, 23.0], prior=22.3)
    # light keys keep the looser 1.5x rule: 1.41x on a 3 s key is noise
    assert not bench.should_repeat([4.2], prior=3.0)
    # a genuinely slow heavy key within 1.25x stays single-run
    assert not bench.should_repeat([24.0], prior=22.3)


def test_new_key_without_prior():
    assert bench.should_repeat([0.3], prior=None)      # fast: repeat
    assert not bench.should_repeat([5.0], prior=None)  # slow, no prior: single


def test_report_stat_lower_median():
    assert bench.report_stat([5.0]) == 5.0
    # 2-run [normal, spike]: report the normal one, not the spike
    assert bench.report_stat([9.6, 3.7]) == 3.7
    # 3 runs: true median
    assert bench.report_stat([0.4, 0.5, 0.45]) == 0.45


def test_report_stat_record_minimum_on_contention_ramp():
    # VERDICT r14 #6 tightened per ADVICE r15: min(runs) is recorded
    # only when TWO runs confirm the sub-material reading — a single
    # fast outlier could itself be the anomaly (mis-timed run) and
    # must not fold a suspect floor into BENCH_PRIORS.
    assert bench.report_stat([0.435, 1.1, 3.299, 3.472, 3.672]) == 0.435
    # sql_tpch_q14 shape with a confirmation sample: the lower median
    # itself drops sub-material (no min substitution even needed)
    assert bench.report_stat([3.383, 1.246, 3.5, 1.31]) == 1.31
    # a confirmed pair that still leaves the median material: min
    assert bench.report_stat([3.383, 1.246, 3.5, 3.6, 1.31]) == 1.246
    # UNCONFIRMED single outlier: lower median stands...
    assert bench.report_stat([0.435, 2.617, 3.299, 3.472, 3.672]) == 3.299
    assert bench.report_stat([3.383, 1.246, 3.5]) == 3.383
    # ...and the spiked-adjudication gate catches it instead
    assert bench.unresolved_spike(
        [0.435, 2.617, 3.299, 3.472, 3.672], prior=0.143
    )
    # a CONFIRMED sub-material pair means no regression to adjudicate
    assert not bench.unresolved_spike(
        [0.435, 1.1, 3.299, 3.472, 3.672], prior=0.143
    )
    # all-material ramps are untouched: nothing proves the key can run
    # faster, so the lower median still stands
    assert bench.report_stat([2.1, 4.0, 4.2]) == 4.0


def test_single_submaterial_outlier_earns_confirmation_run():
    # ADVICE r15: one sub-material sample among material readings
    # extends the session to MAX_RUNS_SPIKED looking for confirmation
    assert bench._unconfirmed_submaterial([3.383, 1.246, 3.5])
    assert bench.should_repeat([3.383, 1.246, 3.5], prior=None)
    # confirmed -> no longer unconfirmed, and the stat resolves to min
    assert not bench._unconfirmed_submaterial([3.383, 1.246, 3.5, 1.31])
    assert not bench.should_repeat([3.383, 1.246, 3.5, 1.31], prior=None)
    # never past the spiked cap, even unconfirmed
    assert not bench.should_repeat([3.4, 1.2, 3.5, 3.6, 3.4], prior=None)
    # a sub-material MEDIAN needs no confirmation machinery
    assert not bench._unconfirmed_submaterial([2.4, 0.5])


def test_merge_priors_takes_per_key_floor():
    # r13 incident: the driver's contaminated sweep (46 s) became the
    # committed BENCH_FULL prior, so the next 46 s spike looked normal.
    # The curated floor must win regardless of source order.
    curated = {"decon": 1.2, "only_curated": 3.0}
    contaminated = {"decon": 46.3, "only_full": 0.5, "bad": "n/a"}
    merged = bench.merge_priors([curated, contaminated])
    assert merged["decon"] == 1.2
    assert merged["only_curated"] == 3.0 and merged["only_full"] == 0.5
    assert "bad" not in merged  # non-numeric entries ignored
    assert bench.merge_priors([contaminated, curated])["decon"] == 1.2


def test_decaying_spike_earns_extra_confirmation_runs():
    # r14 observe_metrics: [13.4, 5.4, 1.2] — contention decaying to
    # the floor on run 3. The single sub-material run now earns a
    # CONFIRMATION run (ADVICE r15); once confirmed the stat resolves
    # to min. A decay that only reaches MATERIAL readings still earns
    # the extended confirmation runs.
    assert bench.should_repeat([13.4, 5.4, 1.2], prior=0.37)       # confirm
    assert bench.report_stat([13.4, 5.4, 1.2]) == 5.4              # unconfirmed
    assert bench.should_repeat([13.4, 7.1, 4.9], prior=0.37)       # 4th run
    assert bench.report_stat([13.4, 5.4, 1.2, 1.2]) == 1.2
    assert not bench.should_repeat([13.4, 5.4, 1.2, 1.2], prior=0.37)
    # a PERSISTENT >2x reading still stops at the spiked cap
    assert not bench.should_repeat([5.0, 5.1, 5.0, 5.2, 5.1], prior=1.0)
    # sub-noise-band readings never extend past MAX_RUNS, whatever the
    # ancient floor says (ambient swing on a 0.5 s key is not a
    # regression signal)
    assert not bench.should_repeat([0.69, 0.56, 0.51], prior=0.16)
    # and the record gate matches: resolved/immaterial -> no record
    assert not bench.unresolved_spike([13.4, 5.4, 1.2, 1.2], prior=0.37)
    assert bench.unresolved_spike([5.0, 5.1, 5.0, 5.2, 5.1], prior=1.0)
    assert not bench.unresolved_spike([0.69, 0.56, 0.51], prior=0.16)


def test_contaminated_prior_cannot_mask_spike():
    # with only the contaminated prior, a 46 s run on a 1.2 s-floor key
    # is "normal" (the r13 hole); with the curated floor it must repeat
    assert not bench.should_repeat([46.0], prior=46.3)
    assert bench.should_repeat([46.0], prior=1.2)
    # and once contention clears, lower median reports the honest runs
    assert bench.report_stat([46.0, 1.3, 1.4]) == 1.4


def test_load_priors_reads_curated_and_full(tmp_path):
    import json

    (tmp_path / "BENCH_PRIORS.json").write_text(
        json.dumps({"queries": {"a": 1.0, "c": 2.0}, "sf": 0.1})
    )
    (tmp_path / "BENCH_FULL.json").write_text(
        json.dumps({"queries": {"a": 5.0, "b": 0.3}, "sf": 0.1})
    )
    assert bench.load_priors(str(tmp_path), 0.1) == {"a": 1.0, "b": 0.3, "c": 2.0}
    # sf mismatch -> source skipped: an sf0.001 smoke's timings must
    # never become floors for an sf0.1 sweep (every key would "spike"
    # and the sweep would triple), nor mask spikes in the reverse
    # direction
    assert bench.load_priors(str(tmp_path), 0.001) == {}
    (tmp_path / "BENCH_FULL.json").write_text(
        json.dumps({"queries": {"a": 0.01}, "sf": 0.001})
    )
    assert bench.load_priors(str(tmp_path), 0.1) == {"a": 1.0, "c": 2.0}
    # missing files -> empty floor, never an exception
    assert bench.load_priors(str(tmp_path / "nope"), 0.1) == {}


def test_priors_file_covers_registry():
    """BENCH_PRIORS.json must track the live registry: every floor key
    is a registry key (renames must not linger as dead floors)."""
    import json
    import os

    path = os.path.join(os.path.dirname(bench.__file__), "BENCH_PRIORS.json")
    floors = json.load(open(path))["queries"]
    from machine_learning_algorithm_sparkml__spark import workload

    live = set(workload.all_queries())
    dead = sorted(set(floors) - live)
    assert not dead, f"stale prior keys (run tools/update_priors.py): {dead}"


def test_bench_diff_classification():
    from tools.bench_diff import diff

    old = {"queries": {"a": 1.0, "b": 2.0, "c": 0.2, "d": 2.0, "e": 0.2, "gone": 1.0}}
    new = {"queries": {"a": 1.6, "b": 1.0, "c": 1.0, "d": 0.0, "e": 0.4, "new": 3.0}}
    d = diff(old, new, factor=1.5, min_sec=0.5)
    # a: plain 1.6x regression; c: old in the noise band but NEW time
    # clears factor * min_sec -> still flagged (the 0.45s->60s hole)
    assert {r[0] for r in d["regressed"]} == {"a", "c"}
    # d: improved to a rounded 0.0 -> flagged, no ZeroDivisionError
    assert {r[0] for r in d["improved"]} == {"b", "d"}
    # e: 0.2 -> 0.4 stays inside the noise band, not flagged
    assert d["added"] == ["new"] and d["removed"] == ["gone"]


def test_session_memo_keys_exist_and_share_one_fit():
    """SESSION_MEMO_KEYS must stay in sync with the registry and with
    the set of keys that actually consume workload.ml._rf_predictions
    — a rename on either side would silently restore the
    unpriced-fit / double-fit pricing bug."""
    import bench
    from machine_learning_algorithm_sparkml__spark import workload

    qs = workload.all_queries()
    missing = bench.SESSION_MEMO_KEYS - set(qs)
    assert not missing, f"SESSION_MEMO_KEYS not in registry: {missing}"
    import inspect

    from machine_learning_algorithm_sparkml__spark.workload import ml as ml_workload
    from machine_learning_algorithm_sparkml__spark.workload import scale as scale_workload

    consumers = {
        name[2:]
        for name, fn in vars(ml_workload).items()
        if name.startswith("q_") and "_rf_predictions(" in inspect.getsource(fn)
    }
    consumers |= {
        name[2:]
        for name, fn in vars(scale_workload).items()
        if name.startswith("q_") and "_session_bucketed_pair(" in inspect.getsource(fn)
    }
    assert consumers == bench.SESSION_MEMO_KEYS, (
        f"memoized consumers {consumers} != SESSION_MEMO_KEYS "
        f"{bench.SESSION_MEMO_KEYS}"
    )


def test_deterministic_kept_keys_ignore_timings():
    # r17 (VERDICT r16 #6): the one-line kept set is a pure function of
    # the committed priors + registry — identical across sweeps no
    # matter how the run's timings jitter.
    keys = [f"key_{i:03d}" for i in range(300)]
    prior = {k: 0.5 + (i % 37) * 0.1 for i, k in enumerate(keys)}
    kept = bench.deterministic_kept_keys(keys, prior)
    assert kept == bench.deterministic_kept_keys(list(reversed(keys)), prior)
    # estimate must leave room for the skeleton and per-entry widths
    est = 220 + sum(len(k) + 10 for k in kept)
    assert est <= 1900
    # priors order: every kept key's floor >= every omitted key's floor
    omitted = [k for k in keys if k not in set(kept)]
    assert min(prior[k] for k in kept) >= max(prior[k] for k in omitted)


def test_deterministic_kept_keys_new_keys_first():
    # a key with no floor yet (new this round) is always kept
    keys = [f"key_{i:03d}" for i in range(300)]
    prior = {k: 5.0 for k in keys if k != "key_299"}
    assert "key_299" in bench.deterministic_kept_keys(keys, prior)


def test_curated_priors_ignore_bench_full(tmp_path, capsys):
    # the kept-set prior source must be BENCH_PRIORS.json alone: a
    # sweep's own BENCH_FULL.json must not re-order the next sweep
    import json

    (tmp_path / "BENCH_PRIORS.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"a": 2.0}})
    )
    (tmp_path / "BENCH_FULL.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"a": 0.1, "b": 0.2}})
    )
    assert bench.load_curated_priors(str(tmp_path), 0.1) == {"a": 2.0}
    # merged floor (spike detection) still folds BENCH_FULL minima
    assert bench.load_priors(str(tmp_path), 0.1) == {"a": 0.1, "b": 0.2}
    assert capsys.readouterr().err == ""

    # falling back to no priors warns on stderr, never on stdout (fd 1
    # carries only the result JSON): an sf mismatch...
    assert bench.load_curated_priors(str(tmp_path), 0.01) == {}
    out = capsys.readouterr()
    assert out.out == ""
    assert "BENCH_PRIORS.json ignored" in out.err and "sf=0.01" in out.err
    assert out.err.count("\n") == 1
    # ...and an unreadable file
    (tmp_path / "BENCH_PRIORS.json").write_text("{not json")
    assert bench.load_curated_priors(str(tmp_path), 0.1) == {}
    out = capsys.readouterr()
    assert out.out == ""
    assert "BENCH_PRIORS.json ignored (unreadable" in out.err
    assert out.err.count("\n") == 1
