#!/usr/bin/env python3
"""Count the helper processes a command forks: chmod, ls and stat.

    python3 tools/forks.py -- <command> [args...]

Runs <command> with a directory of PATH shims in front of PATH. Each shim
appends one line to a per-name count file and then execs the real binary,
so the command behaves as before. Hadoop's local filesystem forks these
three when its native library is missing: `chmod` for every file and
directory it creates, `ls` or `stat` when asked for a file's permission.
Callers that exec a binary by absolute path are not counted.

Prints one `forks <name> <count>` line per shimmed name after the command
exits, and exits with the command's own status.
"""
import argparse
import os
import shutil
import subprocess
import sys
import tempfile

NAMES = ("chmod", "ls", "stat")

SHIM = """#!/bin/sh
echo x >> '{log}'
exec '{real}' "$@"
"""


def make_shims(bindir, logdir, path):
    """Write one shim per name found on `path` into `bindir`; returns the
    names shimmed."""
    shimmed = []
    for name in NAMES:
        real = shutil.which(name, path=path)
        if real is None:
            continue
        shim = os.path.join(bindir, name)
        with open(shim, "w") as fh:
            fh.write(SHIM.format(log=os.path.join(logdir, name), real=real))
        os.chmod(shim, 0o755)
        shimmed.append(name)
    return shimmed


def count(logdir, names):
    out = {}
    for name in names:
        try:
            with open(os.path.join(logdir, name)) as fh:
                out[name] = sum(1 for _ in fh)
        except FileNotFoundError:
            out[name] = 0
    return out


def run(cmd):
    """Run `cmd` under the shims; returns (exit status, {name: count})."""
    env = dict(os.environ)
    with tempfile.TemporaryDirectory(prefix="forks-") as tmp:
        bindir, logdir = os.path.join(tmp, "bin"), os.path.join(tmp, "log")
        os.mkdir(bindir)
        os.mkdir(logdir)
        names = make_shims(bindir, logdir, env.get("PATH", os.defpath))
        env["PATH"] = bindir + os.pathsep + env.get("PATH", os.defpath)
        status = subprocess.call(cmd, env=env)
        return status, count(logdir, names)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("cmd", nargs=argparse.REMAINDER)
    args = ap.parse_args(argv)
    cmd = args.cmd[1:] if args.cmd[:1] == ["--"] else args.cmd
    if not cmd:
        ap.error("no command given")
    status, counts = run(cmd)
    for name, n in counts.items():
        print(f"forks {name} {n}", flush=True)
    return status


if __name__ == "__main__":
    sys.exit(main())
