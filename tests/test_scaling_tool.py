"""tools/scaling.py: the N→4N scaling and skew evidence tool.

The Spark-free tests drive the orchestrator with fake children
(``sys.executable -c ...``) or a fake ``run_children``; none of them starts
a JVM.  The Spark tests use the shared session for the skew A/B and for
the hash the recorded extraction pins are defined by.
"""

import json
import os
import sys
import time

import pytest

from tools import scaling


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def _group(pgid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except FileNotFoundError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                pids.append(int(d))
    return pids


def _gone(pids, seconds=10.0) -> bool:
    deadline = time.monotonic() + seconds
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
    return True


# a child that starts a sleeping grandchild in its own process group,
# records both pids, then sleeps (or exits at once with argv[2] == "exit")
_SPAWNER = (
    "import os, subprocess, sys, time\n"
    "g = subprocess.Popen([sys.executable, '-c', 'import time; "
    "time.sleep(120)'])\n"
    "open(sys.argv[1], 'w').write(f'{os.getpid()} {g.pid}')\n"
    "if sys.argv[2] == 'exit':\n"
    "    print('done')\n"
    "    sys.exit(0)\n"
    "time.sleep(120)\n")


class TestChildren:
    def test_failing_child_names_rc_and_stderr(self):
        with pytest.raises(scaling.ChildError) as e:
            scaling.run_children([[sys.executable, "-c",
                                   "import sys; sys.stderr.write("
                                   "'driver died: marker-7731'); "
                                   "sys.exit(3)"]])
        assert "rc 3" in str(e.value)
        assert "marker-7731" in str(e.value)

    def test_timed_out_child_group_is_killed(self, tmp_path):
        pids = tmp_path / "pids"
        t0 = time.monotonic()
        with pytest.raises(scaling.ChildError, match="timeout"):
            scaling.run_children(
                [[sys.executable, "-c", _SPAWNER, str(pids), "sleep"]],
                timeout=1)
        assert time.monotonic() - t0 < 30
        child, grandchild = map(int, pids.read_text().split())
        assert _gone([child, grandchild])
        assert _group(child) == []

    def test_normal_return_kills_leftovers(self, tmp_path):
        pids = tmp_path / "pids"
        out = scaling.run_children(
            [[sys.executable, "-c", _SPAWNER, str(pids), "exit"],
             [sys.executable, "-c", "print('second')"]])
        assert [o.strip() for o in out] == ["done", "second"]
        child, grandchild = map(int, pids.read_text().split())
        assert _gone([grandchild])
        assert _group(child) == []


class TestPlan:
    def test_core_sets_come_from_the_affinity_mask(self, monkeypatch):
        monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {7, 2, 5, 3})
        assert scaling.core_sets([4]) == [[2, 3, 5, 7]]
        assert scaling.core_sets([1, 1, 2]) == [[2], [3], [5, 7]]
        with pytest.raises(scaling.GeometryError, match="needs 5 cores"):
            scaling.core_sets([4, 1])

    def test_oversized_level_is_refused_before_any_launch(self, monkeypatch):
        monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {2, 3, 5, 7})

        def launched(argvs, timeout=None):
            raise AssertionError("launched a child")
        monkeypatch.setattr(scaling, "run_children", launched)
        with pytest.raises(scaling.GeometryError, match="needs 8 cores"):
            scaling.scaling("pinned", 8, 100)
        monkeypatch.setattr(sys, "path", list(sys.path))
        monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
        with pytest.raises(SystemExit) as e:
            scaling.main(["skew", "--cores", "5"])
        assert e.value.code == 2

    def test_cores_16_is_the_recorded_geometry(self):
        assert scaling.levels("pinned", 16) == [[("local[4]", 4)],
                                                [("local[16]", 16)]]
        assert scaling.levels("groups", 16) == [[("local[4]", 4)],
                                                [("local[4]", 4)] * 4]
        assert scaling.levels("cluster", 16) == [
            [("local-cluster[1,4,4096]", 4)],
            [("local-cluster[4,4,4096]", 16)]]
        with pytest.raises(scaling.GeometryError):
            scaling.levels("pinned", 3)


def _child(docs_per_s, h=7):
    return {"docs_per_s": docs_per_s, "hash": h}


class TestSummary:
    def test_efficiency_uses_each_levels_best_round(self):
        runs = [[[_child(100.0)], [_child(120.0)]],
                [[_child(100.0)] * 4, [_child(90.0)] * 4]]
        s = scaling.summarize(runs, [4, 16])
        assert s["efficiency"] == round(400 / 120 / 4, 3)
        assert [lv["docs_per_s"] for lv in s["levels"]] == [120.0, 400.0]
        assert s["hash_equal"] and s["hashes"] == [7]

    def test_hash_mismatch_across_rounds_or_levels_is_reported(self):
        across_rounds = [[[_child(1.0)], [_child(1.0, h=8)]],
                         [[_child(4.0)], [_child(4.0)]]]
        across_levels = [[[_child(1.0)], [_child(1.0)]],
                         [[_child(4.0, h=9)], [_child(4.0, h=9)]]]
        for runs in (across_rounds, across_levels):
            s = scaling.summarize(runs, [1, 4])
            assert not s["hash_equal"] and len(s["hashes"]) == 2

    def test_levels_alternate_on_their_core_sets(self, monkeypatch, capsys):
        monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {2, 3, 5, 7})
        monkeypatch.setattr(sys, "path", list(sys.path))
        monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
        calls = []

        def fake(argvs, timeout=None):
            calls.append([a[2] for a in argvs])
            h = 5 if len(calls) == 4 else 7      # round 2, level B differs
            return [json.dumps(_child(10.0, h)) + "\n" for _ in argvs]
        monkeypatch.setattr(scaling, "run_children", fake)
        assert scaling.main(["groups", "--docs", "10"]) == 1
        assert calls == [["2"], ["2", "3", "5", "7"]] * 2
        out = json.loads(capsys.readouterr().out)
        assert out["efficiency"] == 1.0 and out["hashes"] == [5, 7]


class TestOnSpark:
    def test_skew_ab_keeps_hash_and_rows(self, spark):
        r = scaling.skew_ab(spark, 300)
        assert r["hash_equal"]
        assert r["layout"]["rows"] == r["repartitioned"]["rows"] == 300

    def test_hash_is_the_pins_definition(self, spark):
        from perfbench.workloads import extraction_hashes
        from ragflow_core16_spark.datagen.pages import pages_df
        from ragflow_core16_spark.operators.extract import extract_pages
        ext = extract_pages(pages_df(spark, 200, 42))
        h, n = scaling.extraction_hash(ext)
        assert (h, n) == (extraction_hashes(ext)["text"], 200)
