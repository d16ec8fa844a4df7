"""The package zip that executor Python workers import from."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

from kafka_avro_order_processor_eg_4131_spark import shipping


def test_build_zip_replaces_a_stale_zip_at_the_pid_path(monkeypatch, tmp_path):
    """A zip already at this process's path (a recycled pid, or a build
    killed halfway) is rebuilt from the source, once per process."""
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(shipping, "_zip_path", None, raising=False)
    pkg = Path(shipping.__file__).parent
    member = f"{pkg.name}/functions/avro_ocf.py"
    stale = tmp_path / f"{pkg.name}-{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as zf:
        zf.writestr(member, "raise ImportError('another build')\n")

    path = shipping._build_zip()
    assert path == str(stale)
    with zipfile.ZipFile(path) as zf:
        assert zf.read(member) == (pkg / "functions" / "avro_ocf.py").read_bytes()
    assert shipping._build_zip() == path
    assert os.listdir(tmp_path) == [stale.name]


def test_build_zip_is_removed_when_the_process_exits(tmp_path):
    """The zip lives as long as the process that built it: a child
    process builds it under its own TMPDIR, and after the child exits
    that directory is empty again."""
    repo = Path(shipping.__file__).resolve().parent.parent
    code = (
        "import os\n"
        "from kafka_avro_order_processor_eg_4131_spark import shipping\n"
        "path = shipping._build_zip()\n"
        "assert os.path.isfile(path)\n"
        "print(path)\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, env=env,
        capture_output=True, text=True, check=True,
    )
    path = out.stdout.strip()
    assert os.path.dirname(path) == str(tmp_path)
    assert not os.path.exists(path)
    assert os.listdir(tmp_path) == []
