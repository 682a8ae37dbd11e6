"""tools/forks.py: shims count execs by PATH lookup and pass the call through.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import io
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import forks  # noqa: E402


class ForksTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def test_counts_each_exec_and_runs_the_real_binary(self):
        f = os.path.join(self.dir, "f")
        open(f, "w").close()
        script = f"chmod 600 '{f}'; chmod 640 '{f}'; ls '{f}' >/dev/null; stat '{f}' >/dev/null"
        status, counts = forks.run(["sh", "-c", script])
        self.assertEqual(status, 0)
        self.assertEqual(counts, {"chmod": 2, "ls": 1, "stat": 1})
        # the shim ran the real chmod: the last mode stuck
        self.assertEqual(os.stat(f).st_mode & 0o777, 0o640)

    def test_absolute_path_execs_are_not_counted(self):
        status, counts = forks.run(["sh", "-c", f"'{forks.shutil.which('ls')}' / >/dev/null"])
        self.assertEqual((status, counts["ls"]), (0, 0))

    def test_exit_status_and_output(self):
        out = io.StringIO()
        f = os.path.join(self.dir, "f")
        with redirect_stdout(out):
            status = forks.main(["--", "sh", "-c", f": > '{f}'; chmod 644 '{f}'; exit 3"])
        self.assertEqual(status, 3)
        self.assertEqual(out.getvalue().splitlines(), ["forks chmod 1", "forks ls 0", "forks stat 0"])

if __name__ == "__main__":
    unittest.main()
