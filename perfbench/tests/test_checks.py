from perfbench import checks

ROWS = [
    ("AtLocation", ["gear", "car"], 0.412345678),
    ("AtLocation", ["water", "soft drink"], 0.3),
    ("CapableOf", ["cook", "bread"], 0.287654322),
]


def test_digest_ignores_row_order():
    assert checks.digest({"t": ROWS}) == checks.digest({"t": list(reversed(ROWS))})


def test_digest_rejects_perturbed_results():
    base = checks.digest({"t": ROWS})
    weight = [ROWS[0][:2] + (ROWS[0][2] + 1e-8,)] + ROWS[1:]
    ents = [(ROWS[0][0], ["car", "gear"], ROWS[0][2])] + ROWS[1:]
    for bad in (weight, ents, ROWS[:-1], ROWS + ROWS[:1]):
        assert checks.digest({"t": bad}) != base
    assert checks.digest({"u": ROWS}) != base


def test_digest_rounds_float_noise():
    noisy = [ROWS[0][:2] + (ROWS[0][2] + 1e-13,)] + ROWS[1:]
    assert checks.digest({"t": noisy}) == checks.digest({"t": ROWS})


def test_golden_digests_cover_listed_workloads():
    import json
    import os

    root = os.path.dirname(os.path.dirname(checks.GOLDEN_PATH))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        listed = [w["name"] for w in json.load(f)["workloads"]]
    g = checks.load_golden()
    for name in listed:
        assert len(g["digests"][name]) == 64
        assert checks.expected_digest(name, g["seed"]) == g["digests"][name]
        assert checks.expected_digest(name, g["seed"] + 1) is None


def test_oracle_comparison_flags_a_wrong_pair():
    import pandas as pd

    from perfbench.workloads import NearDup

    w = NearDup()
    rows = [(1, 2, 0.5), (3, 4, 0.75)]
    w.first_rows = {"q73_setsim_exact_pairs": (["ia", "ib", "jac"], rows)}
    oracle = pd.DataFrame(rows, columns=["ia", "ib", "jac"])
    assert w.oracle_problems({"q73_setsim_exact_pairs": oracle}) == []
    oracle.loc[1, "jac"] = 0.7
    assert w.oracle_problems({"q73_setsim_exact_pairs": oracle})
