import tempfile
import unittest
from pathlib import Path
from unittest import mock

import run


class BuildCacheTest(unittest.TestCase):
    """The launch line is reused only while target/ holds classes built
    from the current source stamp."""

    def setUp(self):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        self.dir = Path(tmp.name)
        (self.dir / "work").mkdir()
        (self.dir / "target").mkdir()
        self.builds = []
        for name, value in (("WORK", self.dir / "work"), ("HERE", self.dir)):
            patcher = mock.patch.object(run, name, value)
            patcher.start()
            self.addCleanup(patcher.stop)
        patcher = mock.patch.object(run.shutil, "which", return_value="sbt")
        patcher.start()
        self.addCleanup(patcher.stop)

    def sbt(self, code):
        def call(*args, **kwargs):
            self.builds.append(code)
            (self.dir / "target" / "launch.txt").write_text(f"-Dbuilt={len(self.builds)}\n-cp\nx\n")
            return code
        return mock.patch.object(run.subprocess, "call", side_effect=call)

    def test_rebuilds_when_the_tree_flips_back(self):
        with self.sbt(0):
            first = run.build("parent")
            self.assertEqual(run.build("parent"), first)
            run.build("change")
            again = run.build("parent")
        self.assertEqual(len(self.builds), 3)
        self.assertNotEqual(again, first)
        self.assertEqual(again[-1], run.XMX)

    def test_failed_build_vouches_for_nothing(self):
        with self.sbt(0):
            run.build("parent")
        with self.sbt(1), self.assertRaises(SystemExit):
            run.build("change")
        with self.sbt(0):
            run.build("parent")
        self.assertEqual(self.builds, [0, 1, 0])


class StealShareTest(unittest.TestCase):
    def test_share_of_all_ticks(self):
        before = [100, 0, 10, 500, 0, 0, 0, 20, 0, 0]
        after = [160, 0, 20, 520, 0, 0, 0, 30, 0, 0]
        self.assertEqual(run.steal_share(before, after), 0.1)

    def test_unreadable_counters(self):
        self.assertIsNone(run.steal_share(None, [1] * 10))
        self.assertIsNone(run.steal_share([1] * 10, [1] * 10))


if __name__ == "__main__":
    unittest.main()
