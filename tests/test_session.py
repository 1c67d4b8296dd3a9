from __future__ import annotations

import os
import subprocess
import sys
import zipfile

from processor_post_timeseries_spark import session


def test_package_zip_is_private_to_the_process_and_complete():
    """Each driver process ships its own zip: a second process on the
    same host gets another path (and removes it at exit), and the zip
    holds every module of the package."""
    pkg_dir = os.path.dirname(os.path.abspath(session.__file__))
    pkg_name = os.path.basename(pkg_dir)
    mine = session.package_zip()
    assert session.package_zip() == mine
    assert os.path.basename(mine) == f"{pkg_name}.zip"

    other = subprocess.run(
        [sys.executable, "-c",
         "from processor_post_timeseries_spark.session import package_zip; print(package_zip())"],
        cwd=os.path.dirname(pkg_dir), capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert other and other != mine
    assert not os.path.exists(other)

    want = {
        os.path.join(pkg_name, os.path.relpath(os.path.join(root, f), pkg_dir))
        for root, _dirs, files in os.walk(pkg_dir) for f in files if f.endswith(".py")
    }
    with zipfile.ZipFile(mine) as z:
        assert z.testzip() is None
        assert set(z.namelist()) == want
