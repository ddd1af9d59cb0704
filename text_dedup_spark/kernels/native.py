"""Compile-on-first-use loader shared by the C kernels (``sa_native.c``,
``minhash_native.c``).

The shared object is built with the system C compiler into a per-user cache
directory keyed by the source hash, so repeated sessions (and all executors
of a local-mode cluster) reuse one build. On a real multi-node cluster,
prebuild the .so once and ship it with ``--py-files`` (or an archive) — the
loader picks up a pre-existing cache file without invoking a compiler. Any
failure (no compiler, sandboxed exec, exotic platform) raises; each kernel's
module turns that into ``available() == False`` and its callers take the
pure-Python/numpy fallback.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import stat
import subprocess
import tempfile
from pathlib import Path

_PKG_DIR = Path(__file__).parent


def _read_source(name: str) -> bytes:
    """Read ``<name>.c`` from the package — works for a filesystem checkout
    AND a ``spark-submit --py-files`` zip (zipimport paths are not real
    files, so fall back to importlib.resources there)."""
    try:
        return (_PKG_DIR / f"{name}.c").read_bytes()
    except OSError:
        from importlib.resources import files

        return files("text_dedup_spark.kernels").joinpath(f"{name}.c").read_bytes()


def _cache_dir() -> Path:
    """Per-user build cache, hardened against tmp-dir squatting: the path is
    predictable and the source hash is derivable from the public .c file, so
    a directory pre-created by another local user could plant a .so that
    ``ctypes.CDLL`` would execute in-process on every executor. Prefer
    ``$XDG_CACHE_HOME`` (user-owned by construction); under the shared tmp
    dir, create with 0700 and refuse — degrading to the fallback kernel via
    the normal load-failure path — unless the entry is a real directory (not
    a symlink) owned by this uid."""
    xdg = os.environ.get("XDG_CACHE_HOME")
    root = Path(xdg) if xdg else Path(tempfile.gettempdir())
    d = root / f"text_dedup_spark_native_{os.getuid()}"
    d.mkdir(parents=True, exist_ok=True, mode=0o700)
    st = os.lstat(d)
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid():
        raise RuntimeError(
            f"refusing native-kernel cache dir {d}: not a directory owned by "
            f"uid {os.getuid()} (symlink or pre-created by another user)"
        )
    os.chmod(d, 0o700)  # tighten a dir created by an older revision's umask
    return d


def build_or_load(name: str) -> ctypes.CDLL:
    """Load the shared object compiled from ``kernels/<name>.c``, building it
    into the cache first if no build of this exact source exists. Raises on
    any failure; the caller declares the entry points' ctypes signatures."""
    src = _read_source(name)
    tag = hashlib.sha256(src).hexdigest()[:16]
    cache = _cache_dir()
    so_path = cache / f"{name}_{tag}.so"
    if not so_path.exists():
        # compile from a cache-dir copy, not the package file: inside a
        # --py-files zip the package path is not a real file the compiler
        # can open
        src_path = cache / f"{name}_{tag}.c"
        if not src_path.exists():
            stmp = src_path.with_suffix(f".{os.getpid()}.ctmp")
            stmp.write_bytes(src)
            os.replace(stmp, src_path)
        cc = os.environ.get("CC", "cc")
        tmp = so_path.with_suffix(f".{os.getpid()}.tmp")
        # -march=native is safe because the build is per-machine (cache dir
        # is local); a prebuilt .so shipped to heterogeneous nodes should be
        # compiled without it. Retry portable flags if the compiler balks.
        base = ["-shared", "-fPIC", "-o", str(tmp), str(src_path)]
        try:
            subprocess.run(
                [cc, "-O3", "-march=native"] + base,
                check=True, capture_output=True, timeout=120,
            )
        except subprocess.CalledProcessError:
            subprocess.run(
                [cc, "-O2"] + base, check=True, capture_output=True, timeout=120
            )
        os.replace(tmp, so_path)  # atomic: concurrent executors race safely
    return ctypes.CDLL(str(so_path))
