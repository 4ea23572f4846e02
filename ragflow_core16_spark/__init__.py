import os as _os

if "PYTHON_WORKER_FACTORY_SECRET" in _os.environ:
    # inside a PySpark worker: stop every later task in this reused worker
    # from re-reading the zip directories of pyspark.zip and --py-files
    from . import zipguard as _zipguard
    _zipguard.install()
