"""Gate self-test: plant a fault and show the correctness gates go red.

    python3 perfbench/selftest.py

Runs a one-landing ``etl_incremental`` run twice from the repository
root: once clean, where every gate must pass, and once with
``--plant-fault``, which deletes one line from a promoted raw-hist file
before curation. The second run must report failed operations (the
row-count and quarantine gates see the missing record). Exits 0 when
both hold.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(*extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           "etl_incremental", "--seed", "7", "--seconds", "1", "--trace", "0", *extra]
    proc = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True,
                          text=True, timeout=600)
    fails = [ln for ln in proc.stderr.splitlines() if ln.startswith("# FAIL")]
    for ln in fails:
        print(ln)
    if proc.returncode != 0:
        sys.exit(f"run.py exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    clean = run()
    faulty = run("--plant-fault")
    print(f"clean:  attempted={clean['attempted']} failed={clean['failed']}")
    print(f"faulty: attempted={faulty['attempted']} failed={faulty['failed']}")
    ok = clean["failed"] == 0 and faulty["failed"] > 0 and not faulty["correct"]
    print("selftest", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
