"""release_zip_finders() without Spark: it drops the cached zipimporters and
later imports from the same archive still load."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent("""
    import sys
    import zipimport

    from go_tfdata_spark.worker import release_zip_finders

    def zip_finders():
        return [p for p, f in sys.path_importer_cache.items()
                if isinstance(f, zipimport.zipimporter)]

    sys.path.insert(0, sys.argv[1])
    import zpkg.first
    assert zpkg.first.VALUE == 1
    assert zip_finders(), "importing from the zip cached no zipimporter"
    release_zip_finders()
    assert not zip_finders(), zip_finders()
    assert "zpkg.second" not in sys.modules
    import zpkg.second
    assert zpkg.second.VALUE == 2
    print("ok")
""")


def test_release_zip_finders_keeps_zip_imports_working(tmp_path):
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/first.py", "VALUE = 1\n")
        z.writestr("zpkg/second.py", "VALUE = 2\n")
    env = dict(os.environ, PYTHONPATH=_REPO)
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(archive)],
        env=env, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
