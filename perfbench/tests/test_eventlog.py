import os

from perfbench.eventlog import read_jobs, totals

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")


def test_jobs_carry_group_and_call_site():
    jobs = read_jobs(LOG)
    assert [j.job_id for j in jobs] == list(range(5))
    assert [j.group for j in jobs] == ["0:udf", "0:udf", "1:collect", None, None]
    assert jobs[2].call_site.startswith("collect at perfbench/tests/record_eventlog.py:")
    assert jobs[3].call_site is None
    assert all(j.end_s >= j.submit_s for j in jobs)


def by_group(jobs):
    return {g: totals([j for j in jobs if j.group == g]) for g in {j.group for j in jobs}}


def test_task_metrics_fold_into_groups():
    jobs = read_jobs(LOG)
    groups = by_group(jobs)
    assert set(groups) == {"0:udf", "1:collect", None}
    udf = groups["0:udf"]
    assert (udf.jobs, udf.stages, udf.tasks) == (2, 2, 3)
    # only the mapInPandas stage talks to Python workers
    assert udf.py_run_s > 0 and udf.py_sent_mb > 0
    assert groups["1:collect"].py_run_s == 0 and groups[None].py_run_s == 0
    assert udf.shuffle_write_mb > 0
    for t in groups.values():
        assert t.exec_cpu_s > 0 and t.exec_run_s > 0


def test_totals_add_up():
    jobs = read_jobs(LOG)
    t = totals(jobs)
    assert (t.jobs, t.stages, t.tasks) == (5, 5, 8)
    assert abs(t.exec_cpu_s - sum(g.exec_cpu_s for g in by_group(jobs).values())) < 1e-9
