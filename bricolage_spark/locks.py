"""Create-exclusive lock files (vacuumlock.rb:184-285 parity): the
engine's per-table writer lock (``SparkEngine.locked``). Same contract as
the reference's host-global vacuum lock: create-exclusive lock file, poll
with timeout (default 3600 s), stale-lock detection via the writing pid;
a released lock leaves no file behind.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from bricolage_spark.exception import JobFailure

DEFAULT_TIMEOUT = 3600  # vacuumlock.rb:191
DEFAULT_POLL = 1.0


class LockTimeout(JobFailure):
    pass


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        # EPERM: the process EXISTS but belongs to another user — exactly
        # the cross-user case a host-global lock serializes (Ruby's
        # Errno::EPERM handling in the reference vacuumlock).
        return True
    except Exception:
        return True


@contextmanager
def serialized(lock_path: str, timeout: float = DEFAULT_TIMEOUT, poll: float = DEFAULT_POLL):
    """Acquire ``lock_path`` exclusively, waiting up to ``timeout`` s.

    A lock whose writing process is dead is broken automatically
    (create-lockfile stale handling parity).
    """
    deadline = time.monotonic() + timeout
    while True:
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                with open(lock_path) as f:
                    owner = int(f.read().strip() or 0)
            except (OSError, ValueError):
                owner = 0
            if owner and not _pid_alive(owner):
                # Break the stale lock via atomic rename-claim: only ONE
                # waiter wins the rename, so two waiters can't both
                # "remove and recreate" (the naive unlink race would let
                # waiter B delete waiter A's brand-new lock).
                claim = f"{lock_path}.break.{os.getpid()}"
                try:
                    os.rename(lock_path, claim)
                except OSError:
                    continue  # another waiter already broke it
                try:
                    with open(claim) as f:
                        claimed_pid = int(f.read().strip() or 0)
                except (OSError, ValueError):
                    claimed_pid = 0
                if claimed_pid and _pid_alive(claimed_pid):
                    # raced with a fresh acquisition between read and
                    # rename — give the live owner its lock back
                    try:
                        os.rename(claim, lock_path)
                    except OSError:
                        os.remove(claim)
                else:
                    os.remove(claim)
                continue
            if time.monotonic() >= deadline:
                raise LockTimeout(
                    f"could not acquire lock within {timeout}s: {lock_path}"
                )
            time.sleep(poll)
    try:
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        yield
    finally:
        try:
            os.remove(lock_path)
        except FileNotFoundError:
            pass
