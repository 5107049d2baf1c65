"""Lifecycle for pid-scoped temp index directories (ADVICE r11 #1).

``ann_topk_ivfpq_served`` and ``ann_ivfpq_recall_curve_served``
(plans/queries_sim.py) write
their cell-partitioned parquet index under
``{tempdir}/spark_graft_*_{pid}`` — pid-scoped so concurrent driver /
bench / test processes never collide, ``mode('overwrite')`` so
in-process re-runs reuse the path. Nothing ever deleted the dirs, so
every new process accumulated a fresh index copy in /tmp. The fix
lives HERE (imported from the package root) so the committed query
text stays byte-identical — no re-earn slot spent:

- at exit this process removes its own ``spark_graft_*_{pid}`` dirs;
- at import, dirs left by DEAD pids (runs that crashed before atexit
  could fire) are swept, bounding accumulation across crashes too.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile

_PREFIX = "spark_graft_"


def own_dirs() -> list[str]:
    pat = os.path.join(tempfile.gettempdir(), f"{_PREFIX}*_{os.getpid()}")
    return sorted(p for p in glob.glob(pat) if os.path.isdir(p))


def cleanup_own() -> None:
    """Remove this process's pid-scoped temp index dirs."""
    for p in own_dirs():
        shutil.rmtree(p, ignore_errors=True)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else — leave it alone
    except (OverflowError, ValueError):
        # numeric tail too large for a C long / not a valid pid — not
        # one of ours; claim alive so the sweep leaves it alone (and
        # never crashes the package import it runs under)
        return True
    return True


def sweep_stale() -> list[str]:
    """Remove ``spark_graft_*_<pid>`` temp dirs whose owning process
    is gone; live pids (a concurrent driver run) are never touched."""
    removed: list[str] = []
    pat = os.path.join(tempfile.gettempdir(), f"{_PREFIX}*")
    for p in glob.glob(pat):
        if not os.path.isdir(p):
            continue
        tail = p.rsplit("_", 1)[-1]
        if not tail.isdigit():
            continue
        pid = int(tail)
        if pid != os.getpid() and not _pid_alive(pid):
            shutil.rmtree(p, ignore_errors=True)
            removed.append(p)
    return sorted(removed)


atexit.register(cleanup_own)
sweep_stale()
