"""Self-test of the benchmark's output checks.

    python3 perfbench/selftest.py

Runs ``table_audit`` at smoke size with one deliberately wrong expected
violation count and exits 0 only if the run reports failed calls
(``failed_op_share`` > 0) and ``correct: false``.
"""

from __future__ import annotations

import os
import shutil
import sys

import run


def main() -> int:
    sys.path.insert(0, str(run.ROOT))
    import workloads

    run_dir = run.WORK / f"selftest-{os.getpid()}"
    run.use_run_dir(run_dir)
    wl = workloads.TableAudit(
        1, str(run_dir / "table_audit"), **workloads.SMOKE_SIZES["table_audit"]
    )
    wl.expected["n_tok__ge"] += 1   # the deliberate error
    session = run.Session(run_dir)
    try:
        result = run.bench(session, wl, seconds=0, trace=False, setups=1, warmups=0)
    finally:
        session.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    line = run._report(result, False, run._units(False))
    share = line["failed"] / line["attempted"]
    ok = share > 0 and not line["correct"]
    print(f"selftest {'passed' if ok else 'FAILED'}: failed_op_share {share:.4f} "
          f"with a wrong expected n_tok__ge count")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
