from .bucketed import write_bucketed
from .jdbc import read_jdbc, write_jdbc
from .versioned import PartitionedVersionedTable, VersionedTable, write_csv

__all__ = [
    "PartitionedVersionedTable",
    "VersionedTable",
    "read_jdbc",
    "write_bucketed",
    "write_csv",
    "write_jdbc",
]
