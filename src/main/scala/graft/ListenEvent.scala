package graft

/** Which change events a listen subscription receives. Reference clients
  * subscribe to a single kind per listener — Insert XOR Delete
  * (reference: reactive_db/src/networking/network_types.rs:33-37,
  * listener_hook.rs:62-74 keys its fan-out map by the event kind).
  * [[ListenEvent.Both]] is the engine-internal superset used by callers
  * that want the full (inserts, deletes) pair per commit.
  */
sealed trait ListenEvent
object ListenEvent {
  case object Insert extends ListenEvent
  case object Delete extends ListenEvent
  case object Both extends ListenEvent
}
