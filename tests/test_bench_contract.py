"""Pin bench.py's driver contract (VERDICT r7 item #1 / item #8).

Round 7 regression class: the single output JSON line grew past the driver's
stdout tail capture and BENCH_r07.json recorded ``parsed: null``. These tests
pin, without starting Spark, that (a) the final payload carries exactly the
compact driver keys, (b) it serializes well under the tail budget at the real
registry's bench-query count, and (c) the diagnostics payload is a separate
object marked as such.
"""

from __future__ import annotations

import json

import bench
from parqueryd_spark import queries as Q


def _fake_results(names):
    trials = {n: [0.1234, 0.2345, 0.3456, 0.4567, 0.5678] for n in names}
    timings = {n: min(ts) for n, ts in trials.items()}
    medians = {n: sorted(ts)[2] for n, ts in trials.items()}
    # realistic upper-end shuffle volumes (hundreds of MB -> 6-7 digit KiB)
    shuffle = {n: (123_456_789, 987_654_321) for n in names}
    calib = [0.0456, 0.0321, 0.0333, 0.0345, 0.0311]
    return timings, medians, trials, shuffle, calib


def test_final_line_is_compact_and_parseable():
    names = list(Q.bench_queries())
    assert len(names) >= 15
    timings, medians, trials, shuffle, calib = _fake_results(names)
    # one mid-run re-probe per 8 rows, as bench.main takes them
    samples = {n: 0.1234 for n in names[7::8]}
    diagnostics, final = bench.build_outputs(
        timings, medians, trials, 0.1, shuffle, calib, samples
    )

    line = json.dumps(final)
    assert tuple(final) == bench.FINAL_LINE_KEYS
    # r12 regression: the driver keeps only the last ~2000 bytes of stdout
    # (BENCH_r12.json's tail is exactly 2000 chars starting mid-JSON). The
    # budget must sit INSIDE that measured window with newline margin, and the
    # real line must sit inside the budget.
    assert bench.DRIVER_TAIL_WINDOW == 2000
    assert bench.FINAL_LINE_MAX_BYTES <= bench.DRIVER_TAIL_WINDOW - 100
    assert len(line.encode()) < bench.FINAL_LINE_MAX_BYTES, (
        f"driver line {len(line)}B risks the stdout tail capture "
        f"(budget {bench.FINAL_LINE_MAX_BYTES}B) — trim bench set or keys"
    )
    parsed = json.loads(line)  # what the driver does with the LAST line
    assert parsed["metric"] == "headline_queries_total_wall"
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.1
    assert parsed["value"] == round(sum(timings.values()), 4)
    assert set(parsed["queries"]) == set(names)
    # r12's parsed:null root cause: shuffle_kb may NEVER ride the driver line
    assert "shuffle_kb" not in parsed
    # r14: the host-noise normalizer rides the final line (min of its trials)
    assert parsed["calib"] == 0.0311
    # calib is a normalizer, never part of the headline totals
    assert parsed["value"] == round(sum(timings.values()), 4)
    assert parsed["value_median"] == round(sum(medians.values()), 4)


def test_contract_gates_survive_python_O():
    """ADVICE r13: the final-line gates must raise RuntimeError (assert
    statements vanish under ``python -O``)."""
    import pytest

    names = list(Q.bench_queries())
    timings, medians, trials, shuffle, calib = _fake_results(names)
    # inflate one key so the byte budget blows: gate must RAISE, not assert
    fat = dict(timings)
    fat["x" * 2000] = 1.0
    trials_fat = dict(trials)
    trials_fat["x" * 2000] = trials[names[0]]
    medians_fat = dict(medians)
    medians_fat["x" * 2000] = 0.1
    with pytest.raises(RuntimeError, match="exceeds"):
        bench.build_outputs(fat, medians_fat, trials_fat, 0.1, shuffle, calib)


def test_diagnostics_are_separate_from_driver_line():
    names = list(Q.bench_queries())
    timings, medians, trials, shuffle, calib = _fake_results(names)
    diagnostics, final = bench.build_outputs(
        timings, medians, trials, 0.1, shuffle, calib
    )
    assert diagnostics["bench_diagnostics"] is True
    assert "queries_trials" in diagnostics and "queries_spread" in diagnostics
    # r15 (VERDICT r14 item #7): the cross-round comparable 32-row subtotal
    # rides the DIAGNOSTICS line; the driver line's budget never pays for it
    assert diagnostics["value_32row"] == round(
        sum(timings[n] for n in Q.BENCH_ORDER[:32]), 4
    )
    assert "value_32row" not in final
    assert diagnostics["calib_trials"] == calib
    assert set(diagnostics["shuffle_read_bytes"]) == set(names)
    assert set(diagnostics["shuffle_write_bytes"]) == set(names)
    # shuffle_kb lives on the diagnostics line since r13 (r12 parsed:null fix)
    assert set(diagnostics["shuffle_kb"]) == set(names)
    assert diagnostics["shuffle_kb"][names[0]] == (123_456_789 + 987_654_321) // 1024
    # none of the bulky diagnostic keys may leak into the final line
    assert not set(final) & {
        "queries_trials", "queries_median", "queries_spread", "shuffle_kb"
    }


def test_mid_run_calib_samples_ride_diagnostics_only():
    """VERDICT r15 item #1b: the mid-run calib re-probes must appear in the
    diagnostics payload (keyed by bench row); the final line carries only
    their min and max, never the per-row samples."""
    names = list(Q.bench_queries())
    timings, medians, trials, shuffle, calib = _fake_results(names)
    samples = {names[7]: 0.21, names[15]: 0.22, names[-1]: 0.2}
    diagnostics, final = bench.build_outputs(
        timings, medians, trials, 0.1, shuffle, calib, samples
    )
    assert diagnostics["calib_samples"] == samples
    assert "calib_samples" not in final
    # the final line carries the samples' range, so a row can be read
    # against the run's host-noise spread without the sidecar
    assert (final["calib_samples_min"], final["calib_samples_max"]) == (0.2, 0.22)
    # omitted -> empty dict, not a crash (build_outputs stays pure/optional)
    d2, f2 = bench.build_outputs(timings, medians, trials, 0.1, shuffle, calib)
    assert d2["calib_samples"] == {}
    assert (f2["calib_samples_min"], f2["calib_samples_max"]) == (None, None)
