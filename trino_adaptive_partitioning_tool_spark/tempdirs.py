"""Scratch directories that live until the interpreter exits."""

from __future__ import annotations

import atexit
import shutil
import tempfile


def exit_tempdir(prefix: str) -> str:
    """A fresh ``tempfile.mkdtemp(prefix=prefix)``, removed with its
    contents when the interpreter exits."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path
