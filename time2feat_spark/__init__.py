import sys

if sys.version_info < (3, 12):
    from pyspark import TaskContext

    # inside a Python worker this import runs while the first engine task
    # unpickles its UDF, so every later task on that worker skips the
    # zip-directory re-reads (session.cache_zip_directories)
    if TaskContext.get() is not None:
        from .session import cache_zip_directories

        cache_zip_directories()
