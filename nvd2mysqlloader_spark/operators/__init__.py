from .upsert import last_writer_wins, merge_upsert  # noqa: F401
from .topk import top1_per_key                      # noqa: F401
from .incremental import newer_than_high_water_mark  # noqa: F401
