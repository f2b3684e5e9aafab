"""The per-user private directory colcrush keeps under a temp dir.

Two things live there that another local user must not reach: the
native kernels' compiled .so (a planted one would run inside every
Spark worker) and, in a ``get_spark`` session, the Unix sockets Python
workers are reached through (PySpark skips the worker secret on them,
so the directory's permissions are the only guard).
"""

from __future__ import annotations

import os


def user_dir_path(parent: str) -> str:
    """``<parent>/colcrush-<uid>``: the path ``user_dir`` makes."""
    uid = os.getuid() if hasattr(os, "getuid") else 0
    return os.path.join(parent, f"colcrush-{uid}")


def user_dir(parent: str) -> str:
    """``user_dir_path(parent)``, created 0700, after checking that it
    is owned by this user and closed to group and other.

    ``exist_ok`` alone would trust a PRE-EXISTING dir, which another
    user could have created first at the predictable name and then
    swap entries in. A dir owned by someone else raises RuntimeError; a
    loose one of ours is restricted to 0700."""
    d = user_dir_path(parent)
    os.makedirs(d, mode=0o700, exist_ok=True)
    st = os.stat(d)
    if hasattr(os, "geteuid") and st.st_uid != os.geteuid():
        raise RuntimeError(f"{d} exists but is not owned by this user")
    if st.st_mode & 0o077:
        os.chmod(d, 0o700)
        if os.stat(d).st_mode & 0o077:
            raise RuntimeError(f"{d} permissions could not be restricted")
    return d
