"""The session CPU clock behind ``passes_cpu_s``."""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import worker  # noqa: E402

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"


def _in_new_session(code: str) -> float:
    """CPU seconds ``session_cpu_s`` counts around ``code``, run in a child
    of a process that leads its own session, as the worker does."""
    probe = (
        "import subprocess, sys, worker\n"
        "a = worker.session_cpu_s()\n"
        f"subprocess.run([sys.executable, '-c', {code!r}], check=True)\n"
        "print(worker.session_cpu_s() - a)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=os.path.dirname(worker.__file__),
        capture_output=True,
        text=True,
        check=True,
        start_new_session=True,
        timeout=60,
    )
    return float(out.stdout)


def test_counts_children_of_the_session():
    # the child has ended and been reaped when the clock is read again, so
    # its time arrives through the parent's cutime/cstime
    assert _in_new_session(BURN) >= 0.4

