from .ingest import stream_merge_into_index
from .dedup import stream_dedup_exact
from .state import (
    StateSpec,
    apply_state_batch,
    compact_state,
    read_state,
    stream_state,
)
from .rollup import read_rollup, rollup_state
from .vocab import vocab_state
from .doremi_stream import doremi_state, doremi_weights_from_stream
from .ngram import ngram_state
from .linestats import line_df_state
from .join import stream_interval_join
from .dsir_stream import dsir_state
from .dedup_minhash import (
    apply_minhash_dedup_batch,
    read_deduped,
    stream_dedup_minhash,
)
from .maintenance import maintain_index

__all__ = [
    "stream_merge_into_index",
    "stream_dedup_exact",
    "StateSpec",
    "apply_state_batch",
    "compact_state",
    "read_state",
    "stream_state",
    "read_rollup",
    "rollup_state",
    "vocab_state",
    "doremi_state",
    "doremi_weights_from_stream",
    "ngram_state",
    "line_df_state",
    "dsir_state",
    "stream_interval_join",
    "apply_minhash_dedup_batch",
    "read_deduped",
    "stream_dedup_minhash",
    "maintain_index",
]
