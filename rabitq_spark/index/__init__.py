# operators FIRST: index/search.py imports rabitq_spark.operators.topk,
# and the operators package init imports ann/simjoin, which import
# build_index, RaBitQModel and search from their index submodules. Loaded
# from here, those submodules finish before ann/simjoin bind the names;
# loaded mid-way through search.py, `search` would bind to the submodule.
import rabitq_spark.operators  # noqa: F401

from rabitq_spark.index.build import (
    append_to_index,
    build_index,
    compact_index,
    delete_from_index,
    upsert_into_index,
)
from rabitq_spark.index.model import RaBitQModel
from rabitq_spark.index.search import range_search, search
from rabitq_spark.index.vecstore import VecStore, attach_vec_store, build_vec_store
from rabitq_spark.index.adaptive import search_adaptive

__all__ = [
    "RaBitQModel",
    "VecStore",
    "append_to_index",
    "attach_vec_store",
    "build_index",
    "build_vec_store",
    "compact_index",
    "delete_from_index",
    "range_search",
    "search",
    "search_adaptive",
    "upsert_into_index",
]
