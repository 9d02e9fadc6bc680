from news_crawler_spark.tables.local import local_frame
from news_crawler_spark.tables.snapshot import SnapshotTable

__all__ = ["SnapshotTable", "local_frame"]
