# fish completion for goskyr-spark (generated)
complete -c goskyr-spark -n '__fish_use_subcommand' -a completion
complete -c goskyr-spark -n '__fish_seen_subcommand_from completion' -l help
complete -c goskyr-spark -n '__fish_seen_subcommand_from completion' -l shell
complete -c goskyr-spark -n '__fish_use_subcommand' -a crawl
complete -c goskyr-spark -n '__fish_seen_subcommand_from crawl' -l help
complete -c goskyr-spark -n '__fish_seen_subcommand_from crawl' -l workdir -r -F
complete -c goskyr-spark -n '__fish_seen_subcommand_from crawl' -l config -r -F
complete -c goskyr-spark -n '__fish_seen_subcommand_from crawl' -l live
complete -c goskyr-spark -n '__fish_seen_subcommand_from crawl' -l pages -r -F
complete -c goskyr-spark -n '__fish_seen_subcommand_from crawl' -l seeds -r -F
complete -c goskyr-spark -n '__fish_seen_subcommand_from crawl' -l hosts
complete -c goskyr-spark -n '__fish_seen_subcommand_from crawl' -l max-rounds
complete -c goskyr-spark -n '__fish_seen_subcommand_from crawl' -l canonicalize -r -F
complete -c goskyr-spark -n '__fish_seen_subcommand_from crawl' -l adaptive
complete -c goskyr-spark -n '__fish_use_subcommand' -a extract
complete -c goskyr-spark -n '__fish_seen_subcommand_from extract' -l help
complete -c goskyr-spark -n '__fish_seen_subcommand_from extract' -l config -r -F
complete -c goskyr-spark -n '__fish_seen_subcommand_from extract' -l out-file -r -F
complete -c goskyr-spark -n '__fish_seen_subcommand_from extract' -l word-lists -r -F
complete -c goskyr-spark -n '__fish_use_subcommand' -a generate
complete -c goskyr-spark -n '__fish_seen_subcommand_from generate' -l help
complete -c goskyr-spark -n '__fish_seen_subcommand_from generate' -l file -r -F
complete -c goskyr-spark -n '__fish_seen_subcommand_from generate' -l url
complete -c goskyr-spark -n '__fish_seen_subcommand_from generate' -l min-occ
complete -c goskyr-spark -n '__fish_seen_subcommand_from generate' -l interactive
complete -c goskyr-spark -n '__fish_use_subcommand' -a list
complete -c goskyr-spark -n '__fish_seen_subcommand_from list' -l help
complete -c goskyr-spark -n '__fish_seen_subcommand_from list' -l config -r -F
complete -c goskyr-spark -n '__fish_use_subcommand' -a scrape
complete -c goskyr-spark -n '__fish_seen_subcommand_from scrape' -l help
complete -c goskyr-spark -n '__fish_seen_subcommand_from scrape' -l config -r -F
complete -c goskyr-spark -n '__fish_seen_subcommand_from scrape' -l name
complete -c goskyr-spark -n '__fish_use_subcommand' -a train
complete -c goskyr-spark -n '__fish_seen_subcommand_from train' -l help
complete -c goskyr-spark -n '__fish_seen_subcommand_from train' -l feature-file -r -F
