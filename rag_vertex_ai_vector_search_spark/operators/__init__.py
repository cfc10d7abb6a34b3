from .knn import (
    brute_force_topk,
    knn_search,
    knn_search_cosine,
    knn_search_l2,
)
from .ivf import IVFIndex, build_ivf_index, ivf_search
from .upsert import merge_by_key, point_lookup, point_update
from .dedup import (
    dedup_boilerplate_lines,
    dedup_exact,
    duplicate_span_stats,
    remove_duplicate_spans,
    duplicate_clusters,
    minhash_candidate_pairs,
    simhash_near_dup_pairs,
    ngram_jaccard_pairs,
    embedding_cosine_pairs,
    embedding_cosine_pairs_ivf,
)
from .ingest import ingest_documents, IngestResult, TokenLimitExceeded
from .asof import asof_join
from .decontaminate import (
    contamination_pairs,
    cross_source_overlap,
    decontaminate,
)
from .restricts import restrict_predicate
from .ann_lsh import lsh_topk
from .cluster import connected_components, dedup_keep_one
from .chunk import chunk_by_sentences, chunk_documents
from .ranking import bm25_topk
from .splits import (
    assign_splits,
    cap_per_group,
    split_assignment,
    split_bounds,
)
from .tokenizer import (
    bpe_merge_pairs,
    substring_piece_counts,
    train_bpe,
    train_unigram,
    train_wordpiece,
    unigram_tokenize_word,
    viterbi_segment_words,
    vocab_coverage_report,
    wordpiece_tokenize,
    wordpiece_vocab,
)
from .layout import write_zordered, z_value, zorder_key
from .serving import ReplicaSource, ServingReplica, embed_query_text
from .lm_quality import (
    bigram_surprisal,
    surprisal_buckets,
    trigram_position_counts,
    trigram_surprisal,
    unigram_surprisal,
)
from .pq import (
    PQIndex,
    encode_pq,
    ivf_pq_search,
    pq_search_rerank,
    pq_topk,
    train_pq,
)
from .ivf2 import IVF2Index, build_ivf2_index, ivf2_search
from .importance import (
    dsir_gumbel_select,
    dsir_log_importance,
    hashed_gram_bucket_counts,
)
from .doremi import doremi_domain_log_weights, doremi_select
from .evaluate import recall_report, recall_summary
from .negatives import mine_hard_negatives
from .profile import profile_columns

__all__ = [
    "ReplicaSource",
    "ServingReplica",
    "embed_query_text",
    "train_bpe",
    "train_unigram",
    "train_wordpiece",
    "substring_piece_counts",
    "unigram_tokenize_word",
    "viterbi_segment_words",
    "wordpiece_tokenize",
    "wordpiece_vocab",
    "write_zordered",
    "z_value",
    "zorder_key",
    "bigram_surprisal",
    "trigram_position_counts",
    "trigram_surprisal",
    "PQIndex",
    "encode_pq",
    "ivf_pq_search",
    "pq_search_rerank",
    "pq_topk",
    "train_pq",
    "IVF2Index",
    "build_ivf2_index",
    "ivf2_search",
    "bpe_merge_pairs",
    "duplicate_span_stats",
    "remove_duplicate_spans",
    "doremi_domain_log_weights",
    "doremi_select",
    "dsir_gumbel_select",
    "dsir_log_importance",
    "hashed_gram_bucket_counts",
    "mine_hard_negatives",
    "profile_columns",
    "recall_report",
    "recall_summary",
    "surprisal_buckets",
    "unigram_surprisal",
    "vocab_coverage_report",
    "knn_search",
    "knn_search_cosine",
    "knn_search_l2",
    "brute_force_topk",
    "IVFIndex",
    "build_ivf_index",
    "ivf_search",
    "merge_by_key",
    "point_lookup",
    "point_update",
    "dedup_boilerplate_lines",
    "dedup_exact",
    "duplicate_clusters",
    "minhash_candidate_pairs",
    "simhash_near_dup_pairs",
    "ngram_jaccard_pairs",
    "embedding_cosine_pairs",
    "embedding_cosine_pairs_ivf",
    "ingest_documents",
    "IngestResult",
    "TokenLimitExceeded",
    "asof_join",
    "contamination_pairs",
    "cross_source_overlap",
    "decontaminate",
    "restrict_predicate",
    "lsh_topk",
    "connected_components",
    "dedup_keep_one",
    "chunk_by_sentences",
    "chunk_documents",
    "bm25_topk",
    "assign_splits",
    "cap_per_group",
    "split_assignment",
    "split_bounds",
]
